package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test corpus (see /root/repo/TESTDATA.md).
  *
  * Scale posture: every loader returns a plain parquet scan so Catalyst can
  * push filters / prune columns into the file source. Nothing here collects,
  * caches, or repartitions — partitioning decisions belong to the operators.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events corpus has shipped with two physical encodings for `ts`:
    * parquet TIMESTAMP(NANOS) (readable only as LongType via
    * `spark.sql.legacy.parquet.nanosAsLong`, set in [[GraftSession]]) and
    * parquet timestamp[us] (read as TIMESTAMP_NTZ). [[deriveEventTime]]
    * adapts to whichever the files carry; loaders make no assumption.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // belt-and-suspenders for sessions not built via GraftSession: a
    // nanos-encoded corpus is unreadable without this conf (ADVICE r7)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    deriveEventTime(table(spark, sfDir, "events"))
  }

  /** Schema-adaptive event-time derivation, as one `select` over
    * [[eventColumns]]. Accepts the raw frame with `ts` as TIMESTAMP /
    * TIMESTAMP_NTZ (micros) or LongType (epoch-nanos), or an
    * already-renamed `ts_ns` long, and emits the engine's event-time
    * contract regardless of source encoding:
    *   - `ts_ns`      LongType epoch-nanos (raw resolution), at the
    *                  position of the column it derives from
    *   - `ts_us`      LongType epoch-micros (exact integer event time; all
    *                  window arithmetic uses this to stay engine-agnostic)
    *   - `event_ts`   TimestampType at micros (matches the DuckDB oracle's
    *                  CAST(ts AS TIMESTAMP))
    * Requires session timezone UTC (GraftSession sets it) so the NTZ cast
    * is epoch-exact.
    */
  def deriveEventTime(df: DataFrame): DataFrame = {
    val ev = eventColumns(df.schema)
    val source = if (df.columns.contains("ts_ns")) "ts_ns" else "ts"
    val derived = Seq("ts_us", "event_ts")
    df.select(df.columns.toSeq.map {
      case `source` => ev("ts_ns").as("ts_ns")
      case c if derived.contains(c) => ev(c).as(c)
      case c => col(c)
    } ++ derived.filterNot(df.columns.contains).map(c => ev(c).as(c)): _*)
  }

  /** The columns of a raw events frame with schema `schema`, by name, as
    * expressions over its own columns: `ts_ns`, `ts_us` and `event_ts` are
    * derived from whichever `ts` encoding the frame carries (see
    * [[deriveEventTime]]); any other name is the column itself. The stream
    * decode reads event time through this without a projection of its own.
    */
  private[graft] def eventColumns(schema: StructType): String => Column = {
    val (ns, us) =
      if (schema.fieldNames.contains("ts_ns") || schema("ts").dataType == LongType) {
        // Long-sourced ns values (parquet int64 or a caller-renamed ts_ns)
        // are a CLAIM of nanos, not a guarantee — if a caller mislabels
        // micros/millis as ts_ns, every window/join downstream silently
        // drifts 1000× (VERDICT r6/r7's recurring bug class). Guard per-row
        // in codegen: modern epoch-nanos are ≥1e17 (~1973-03); a positive
        // value below that is micros/millis/seconds wearing the wrong label
        // → loud error. Nulls and non-positive values pass (pre-1970 nanos
        // are negative).
        val raw = col(if (schema.fieldNames.contains("ts_ns")) "ts_ns" else "ts")
        val minPlausibleNs = 100000000000000000L // 1e17
        val ns = when(raw.isNull || raw <= 0L || raw >= minPlausibleNs, raw)
          .otherwise(raise_error(concat(
            lit("[graft] ts_ns unit mismatch: "), raw.cast("string"),
            lit(s" is positive but < 1e17 — epoch-micros/millis mislabeled as nanos? " +
              "Pass the raw frame to Tables.deriveEventTime instead of renaming."))))
        (ns, call_function("div", ns, lit(1000)))
      } else schema("ts").dataType match {
        case TimestampType | TimestampNTZType =>
          val us = unix_micros(col("ts").cast(TimestampType))
          (us * 1000L, us)
        case other => throw new IllegalArgumentException(
          s"events.ts has unsupported type $other — expected TIMESTAMP, TIMESTAMP_NTZ, or BIGINT epoch-nanos")
      }
    {
      case "ts_ns" => ns
      case "ts_us" => us
      case "event_ts" => timestamp_micros(us)
      case c => col(c)
    }
  }

  def customer(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer")

  def nation(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "nation")

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")

  /** Committed golden binary-media fixture (repo `testdata/media/`,
    * written by `scripts/gen_media.py`): genuine `binary` payloads with
    * format magic headers + full-range 0..255 bytes (non-ASCII
    * guaranteed) beside typed metadata columns — the multimodal queries'
    * input. Fixed-size by design (a fixture, not a scaled corpus): the
    * byte-level oracle cost stays constant across SFs. Override the
    * location with GRAFT_MEDIA_PATH. */
  def media(spark: SparkSession): DataFrame =
    spark.read.parquet(sys.env.getOrElse("GRAFT_MEDIA_PATH",
      "/root/repo/testdata/media/media.parquet"))

  /** Schema tripwire (see VERDICT r6 item 2): diff every corpus table's
    * on-disk parquet schema against the expected column→type map and fail
    * with ONE loud message naming every mismatch, instead of letting a
    * silent encoding drift surface as dozens of opaque per-query analysis
    * errors. `ts` deliberately admits both corpus encodings (timestamp
    * micros and int64-nanos) — [[deriveEventTime]] adapts to either.
    * Metadata-only (schema reads, no data scan); called at Verify/Bench
    * startup.
    */
  def schemaProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.types._
    // expected logical types, pinned against /root/testdata as of r7.
    // Sentinels: Ts = any event-time encoding deriveEventTime adapts to
    // (timestamp micros / int64-nanos); Dt = the timestamp-typed "date"
    // columns the queries consume via string-literal compare + cast (either
    // TZ flavor fine, a flip to long would break them → flagged).
    object Ts; object Dt
    val expected: Map[String, Seq[(String, Any)]] = Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> Dt, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> Dt),
      "events" -> Seq("event_id" -> LongType, "ts" -> Ts,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))
    def ok(exp: Any, got: DataType): Boolean = (exp, got) match {
      case (Ts, TimestampType | TimestampNTZType | LongType) => true
      case (Dt, TimestampType | TimestampNTZType | DateType) => true
      case (ArrayType(e, _), ArrayType(g, _)) => e == g // element nullability: reader's choice
      case (e: DataType, g) => e == g
      case _ => false
    }
    def show(exp: Any): String = exp match {
      case Ts => "TIMESTAMP[_NTZ]|BIGINT-nanos"
      case Dt => "TIMESTAMP[_NTZ]|DATE"
      case e => e.toString
    }
    val problems = expected.toSeq.sortBy(_._1).flatMap { case (name, cols) =>
      try {
        val actual = spark.read.parquet(s"$sfDir/$name.parquet").schema
        val byName = actual.fields.map(f => f.name -> f.dataType).toMap
        cols.flatMap { case (c, exp) =>
          byName.get(c) match {
            case None => Some(s"$name.$c: MISSING (have: ${actual.fieldNames.mkString(",")})")
            case Some(got) if !ok(exp, got) =>
              Some(s"$name.$c: expected ${show(exp)}, found $got")
            case _ => None
          }
        }
      } catch {
        case e: Throwable => Seq(s"$name: unreadable (${e.getMessage})")
      }
    }
    if (problems.nonEmpty) throw new IllegalStateException(
      s"[graft] corpus schema drift at $sfDir — fix Tables loaders before trusting any query result:\n  " +
        problems.mkString("\n  "))
  }
}
