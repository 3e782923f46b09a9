package graft.tools

import graft.{SparkEntry, SparkSessionSpec}
import graft.util.TempDirs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** The ×N fixture generator behind every scale rung: row counts,
  * key uniqueness, referential integrity, replica 0 as the input
  * verbatim, unchanged event time, and a graded aggregate that scales
  * exactly with the factor. */
class GenScaleSpec extends AnyFunSuite with SparkSessionSpec {

  private val inDir = "/root/testdata/sf0.001"
  private val factor = 3

  private lazy val outDir: String = {
    val dir = s"${TempDirs.create("graft-genscale")}/x$factor"
    GenScale.generate(spark, inDir, dir, factor)
    dir
  }

  private def in(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
  private def out(t: String): DataFrame = spark.read.parquet(s"$outDir/$t.parquet")

  /** Primary key of each table (lineitem's is composite, and not
    * unique in the fixture). */
  private val keys = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  private val fixed = Set("region", "nation")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("scaled tables hold exactly factor× the input rows; region and nation 1×") {
    keys.keys.foreach { t =>
      val want = in(t).count() * (if (fixed(t)) 1 else factor)
      assert(out(t).count() == want, s"$t rows")
    }
  }

  test("primary keys stay unique") {
    // the fixture's (l_orderkey, l_linenumber) already repeats, so the
    // general check is that replicas never share a key: distinct keys
    // grow exactly with the row count
    def distinctKeys(df: DataFrame, k: Seq[String]) =
      df.select(k.map(col): _*).distinct().count()
    keys.foreach { case (t, k) =>
      val mult = if (fixed(t)) 1 else factor
      assert(distinctKeys(out(t), k) == mult * distinctKeys(in(t), k),
        s"replicas share a ${k.mkString(",")} in $t")
      if (t != "lineitem")
        assert(distinctKeys(out(t), k) == out(t).count(),
          s"duplicate ${k.mkString(",")} in $t")
    }
  }

  test("every l_orderkey exists in orders and every o_custkey in customer") {
    val orphanLines = out("lineitem").join(out("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti")
    assert(orphanLines.isEmpty)
    val orphanOrders = out("orders").join(out("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti")
    assert(orphanOrders.isEmpty)
  }

  test("replica 0 equals the input") {
    keys.foreach { case (t, k) =>
      val input = in(t)
      val stride = input.agg(max(col(k.head))).head().getAs[Number](0).longValue + 1
      val replica0 = out(t).filter(col(k.head) < stride)
        .select(input.columns.map(col): _*)
      assert(sameRows(replica0, input), s"$t replica 0 differs from the input")
    }
  }

  test("event timestamps are unchanged") {
    val input = in("events")
    val stride = input.agg(max(col("event_id"))).head().getLong(0) + 1
    val scaled = out("events")
      .select((col("event_id") % stride).as("event_id"), col("ts"))
    val expected = input.select(col("event_id"), col("ts"))
      .crossJoin(spark.range(factor)).drop("id")
    assert(sameRows(scaled, expected))
  }

  test("q1_agg over the scaled copy is factor× the input's count_order and sum_qty") {
    val q1 = SparkEntry.queries("q1_agg")
    val groups = Seq("l_returnflag", "l_linestatus")
    def totals(dir: String) = q1(spark, dir).collect().map { r =>
      groups.map(r.getAs[String]) ->
        ((r.getAs[Long]("count_order"), r.getAs[Double]("sum_qty")))
    }.toMap
    val base = totals(inDir)
    val scaled = totals(outDir)
    assert(base.nonEmpty && scaled.keySet == base.keySet)
    base.foreach { case (g, (n, qty)) =>
      assert(scaled(g) == ((n * factor, qty * factor)), s"group $g")
    }
  }
}
