package graft.graph

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

import scala.util.Random

class TrianglesSpec extends SparkSpecBase {
  import spark.implicits._

  private def canon(es: Seq[(String, String)]): Seq[(String, String)] =
    es.map { case (x, y) => if (x < y) (x, y) else (y, x) }
      .filter { case (x, y) => x != y }.distinct

  private def edges(es: Seq[(String, String)]): DataFrame =
    canon(es).toDF("a", "b")

  /** Brute-force model: enumerate all triples. */
  private def model(es: Seq[(String, String)]): Map[String, (Long, Long)] = {
    val ce = canon(es).toSet
    val nodes = ce.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val deg = nodes.map(n =>
      n -> ce.count(e => e._1 == n || e._2 == n).toLong).toMap
    val tris = nodes.combinations(3).filter { t =>
      ce((t(0), t(1))) && ce((t(0), t(2))) && ce((t(1), t(2)))
    }.toSeq
    val cnt = tris.flatten.groupBy(identity).map { case (n, g) =>
      n -> g.size.toLong
    }
    cnt.map { case (n, c) => n -> (deg(n), c) }
  }

  private def got(es: Seq[(String, String)]): Map[String, (Long, Long)] =
    Triangles.perNode(edges(es)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("K4: every node has degree 3 and sits on 3 triangles") {
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d")
    val g = got(k4)
    assert(g == Map("a" -> ((3L, 3L)), "b" -> ((3L, 3L)),
      "c" -> ((3L, 3L)), "d" -> ((3L, 3L))))
  }

  test("triangle-free graphs (path, star, 4-cycle) return no rows") {
    assert(got(Seq("a" -> "b", "b" -> "c", "c" -> "d")).isEmpty)
    assert(got(Seq("h" -> "a", "h" -> "b", "h" -> "c")).isEmpty)
    assert(got(Seq("a" -> "b", "b" -> "c", "c" -> "d", "a" -> "d")).isEmpty)
  }

  test("two triangles sharing an edge: the shared edge's nodes count both") {
    // a-b-c and b-c-d: b and c sit on 2 triangles, a and d on 1
    val g = got(Seq("a" -> "b", "a" -> "c", "b" -> "c",
      "b" -> "d", "c" -> "d"))
    assert(g("a") == ((2L, 1L)) && g("d") == ((2L, 1L)))
    assert(g("b") == ((3L, 2L)) && g("c") == ((3L, 2L)))
  }

  test("randomized graphs match the brute-force model exactly") {
    val rnd = new Random(42)
    for (trial <- 1 to 3) {
      val n = 8 + trial * 2
      val names = (0 until n).map(i => f"n$i%02d")
      val es = for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.4
      } yield names(i) -> names(j)
      assert(got(es) == model(es), s"trial $trial")
    }
  }

  test("partPairEdges (groupBy-collect pair generation) == the self-join " +
    "formulation on sf0.001") {
    // r14 rewrote the co-purchase edge build from an (ok, pk) self-join
    // to collect_set + in-row combinations; pin set equality
    import org.apache.spark.sql.functions._
    val lp = graft.Tables.table(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .distinct()
    val ref = lp.as("x").join(lp.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.graph.GraphQueries.partPairEdges(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref && got.nonEmpty)
  }
}
