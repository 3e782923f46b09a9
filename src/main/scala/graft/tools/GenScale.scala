package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-tool main (not part of the library surface): synthesize a
  * ×N-scaled copy of a driver testdata directory, so the scale
  * argument for the most expensive queries can rest on MEASUREMENT
  * one rung above the bench fixture instead of plan-shape reasoning
  * alone (the r16 verdict's "no sf1 fixture" gap, item #2).
  *
  * Usage: runMain graft.tools.GenScale <inDir> <outDir> [factor=10]
  *
  * Semantics (replica k = 0..factor-1; replica 0 is the input
  * verbatim, so every sf0.1 row exists in sf1):
  *   - region/nation: fixed-size dimensions, copied once (like
  *     TPC-H, they do not scale with sf).
  *   - customer/supplier/part/orders/lineitem: keys shift by
  *     k × stride(table) with stride = max(key)+1 computed from the
  *     input, foreign keys shift by the SAME per-table strides, so
  *     every replica preserves referential integrity and join
  *     fan-out while growing the key domains ×N.
  *   - events: event_id/user_id shift; timestamps are UNCHANGED, so
  *     time-windowed operators see ×N density per window — the
  *     correct 100 TB shape for a stream table (more traffic, not a
  *     longer history).
  *   - documents: doc_id shifts; replica text carries a short
  *     replica tag roughly every 64 words. Cross-replica pairs are
  *     then NEAR-duplicates (Jaccard ≈ 0.97) — deliberately: a ×10
  *     crawl corpus grows its duplicate clusters, and the dedup/LSH
  *     operators must survive exactly that growth. Language, length
  *     and quality distributions are essentially unchanged.
  *   - embeddings: vec_id shifts; replica vectors get a small
  *     deterministic per-dimension perturbation (±0.02, keyed by
  *     (vec_id, k, dim)), so ANN neighborhoods stay meaningful but
  *     replicas are not bit-equal points.
  *
  * Everything is computed with builtin column functions (no UDFs) —
  * the generator itself is a Spark job that scales.
  *
  * A scale rung is this tool plus the graded mains: GenScale writes
  * the ×N directory, `graft.Bench` times queries over it
  * (`SPARK_GRAFT_SF_DIR=<outDir>`), and `graft.Verify` +
  * tools/check_oracle.py grade them. Because document replicas are
  * near-duplicates, dedup and ANN rungs over a GenScale directory
  * measure duplicate-cluster growth, not a corpus of distinct
  * documents (BASELINE.md, "Scale rungs on the graded path"). */
object GenScale {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, args(0), args(1), factor)
    finally spark.stop()
  }

  /** Write the ×`factor` copy of `inDir` into `outDir` on the given
    * session (left running for the caller). */
  def generate(spark: SparkSession, inDir: String, outDir: String,
      factor: Int): Unit = {
    import spark.implicits._

    def in(t: String): DataFrame =
      spark.read.parquet(s"$inDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).as[Long].head() + 1L
    // replica axis: k = 0..factor-1 (a tiny table; the join below is
    // a broadcast-nested-loop producing factor× rows with no shuffle)
    val ks = spark.range(factor).toDF("k")
    def replicate(df: DataFrame): DataFrame = df.crossJoin(broadcast(ks))

    // fixed dimensions — copied once
    write("region", in("region"))
    write("nation", in("nation"))

    val customer = in("customer")
    val supplier = in("supplier")
    val part = in("part")
    val orders = in("orders")
    val events = in("events")
    val documents = in("documents")
    val embeddings = in("embeddings")
    val sCust = strideOf(customer, "c_custkey")
    val sSupp = strideOf(supplier, "s_suppkey")
    val sPart = strideOf(part, "p_partkey")
    val sOrd = strideOf(orders, "o_orderkey")
    val sEvt = strideOf(events, "event_id")
    val sUser = strideOf(events, "user_id")
    val sDoc = strideOf(documents, "doc_id")
    val sVec = strideOf(embeddings, "vec_id")

    write("customer", replicate(customer)
      .withColumn("c_custkey", $"c_custkey" + $"k" * sCust)
      .drop("k"))
    write("supplier", replicate(supplier)
      .withColumn("s_suppkey", $"s_suppkey" + $"k" * sSupp)
      .drop("k"))
    write("part", replicate(part)
      .withColumn("p_partkey", $"p_partkey" + $"k" * sPart)
      .drop("k"))
    write("orders", replicate(orders)
      .withColumn("o_orderkey", $"o_orderkey" + $"k" * sOrd)
      .withColumn("o_custkey", $"o_custkey" + $"k" * sCust)
      .drop("k"))
    write("lineitem", replicate(in("lineitem"))
      .withColumn("l_orderkey", $"l_orderkey" + $"k" * sOrd)
      .withColumn("l_partkey", $"l_partkey" + $"k" * sPart)
      .withColumn("l_suppkey", $"l_suppkey" + $"k" * sSupp)
      .drop("k"))
    write("events", replicate(events)
      .withColumn("event_id", $"event_id" + $"k" * sEvt)
      .withColumn("user_id", $"user_id" + $"k" * sUser)
      .drop("k"))
    // documents: replica 0 verbatim; k>0 inserts " r<k>x" after every
    // 64th word — near-dup across replicas by design (see scaladoc)
    write("documents", replicate(documents)
      .withColumn("text",
        when($"k" === 0, $"text").otherwise(
          array_join(
            transform(split($"text", " "),
              (w, i) => when(i % 64 === 63,
                concat(w, lit(" r"), $"k", lit("x"))).otherwise(w)),
            " ")))
      .withColumn("doc_id", $"doc_id" + $"k" * sDoc)
      .withColumn("n_chars", length($"text").cast("long"))
      .drop("k"))
    // embeddings: replica 0 verbatim; k>0 perturbs each dimension by
    // a deterministic hash-keyed delta in [-0.02, 0.02]
    write("embeddings", replicate(embeddings)
      .withColumn("embedding",
        when($"k" === 0, $"embedding").otherwise(
          transform($"embedding", (x, i) =>
            (x + (pmod(hash($"vec_id", $"k", i), lit(4001)) - 2000)
              .cast("float") / 100000.0f).cast("float"))))
      .withColumn("vec_id", $"vec_id" + $"k" * sVec)
      .drop("k"))
  }
}
