package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** The one JSON string quoting of the records this project writes by hand
  * (`Verify`'s `oracle_sql.json`, the `Bench` record, `HealthServer`'s
  * bodies): Jackson's encoder escapes `"`, `\` and every control
  * character, so a tab or newline in a query name, SQL text or failure
  * message still leaves valid JSON. */
object Json {
  def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
