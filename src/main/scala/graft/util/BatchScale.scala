package graft.util

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle-partition sizing for the ITERATION LOOPS
  * of the batch fixed-point kernels (PageRank/k-core/HITS/label-prop
  * /beam-walk) — the [[StreamScale]] mechanism (optimization guide
  * §2.2: derive partition counts from input size, never from a
  * constant tuned to one box) applied to the loop rounds only.
  *
  * Scope matters, measured both ways (r18 interleaved A/B at sf0.1,
  * local[32]): scoping the WHOLE query — graph builds included — to
  * the bytes-derived count REGRESSED the family 2.1× (88.9 → 189.6 s
  * over 10 queries; q186 11.7 → 42.1 s), because the builds (banded
  * k-NN self-joins, cosine scoring) are CPU-bound and partitions are
  * their parallelism — the same lesson the r17 streaming round
  * learned on the foreachBatch harnesses. The loop ROUNDS, by
  * contrast, move |V|-row state vectors that are kilobytes at bench
  * scale, where the session's core-count default only multiplies
  * task-launch overhead into every round. So: the harness declares
  * the query's input bytes ([[withInputScope]] around the lambda),
  * the kernels scope exactly their round loops
  * ([[withLoopPartitions]]), and the builds keep full parallelism.
  *
  * At 100 TB the same formula rides the session/ops ceiling —
  * behavior unchanged from today. Ops override:
  * `spark.graft.batch.iterPartitions`.
  */
object BatchScale {

  /** Conf key carrying the harness-derived loop partition count from
    * [[withInputScope]] to [[withLoopPartitions]]; doubles as the
    * ops override (a value set before [[withInputScope]] wins, e.g.
    * `-Dspark.graft.batch.iterPartitions=32` as tools/ab_iter.sh
    * passes it). Unset = loops run at the session setting (the
    * pre-r18 behavior — tests call kernels directly and are
    * unchanged). */
  val ConfKey = "spark.graft.batch.iterPartitions"

  /** Harness-side: declare the input bytes for every loop the query
    * runs — sets [[ConfKey]] to the [[InputPartitions]] rule over
    * `paths` for the duration of `f` (restored after), WITHOUT
    * touching `spark.sql.shuffle.partitions`, so the query's build
    * stages keep the session's parallelism. Honors a pre-set ops
    * value: an explicit conf wins over the derivation. */
  def withInputScope[T](spark: SparkSession, paths: Seq[String])
      (f: => T): T = {
    val prev = spark.conf.getOption(ConfKey)
    if (prev.isEmpty)
      spark.conf.set(ConfKey, InputPartitions.count(spark, paths).toString)
    try f
    finally {
      prev match {
        case Some(v) => spark.conf.set(ConfKey, v)
        case None => spark.conf.unset(ConfKey)
      }
    }
  }

  /** Ops override to keep AQE on inside the round loops (see
    * [[withLoopPartitions]]); unset = AQE disabled for the loop. */
  val AdaptiveKey = "spark.graft.batch.iterAdaptive"

  /** Kernel-side: run `f` — the round loop, whose per-round actions
    * (scalar aggregates, checkpoint/persist materializations) plan
    * at action time — with `spark.sql.shuffle.partitions` set to the
    * [[ConfKey]] value when one is in scope; no-op otherwise.
    *
    * AQE is additionally DISABLED for the loop (restored after):
    * with the partition count already derived from input bytes, the
    * coalescing AQE would do is redundant, and its per-shuffle stage
    * materialization turns every round's small action into a chain
    * of separately-scheduled jobs — fixed overhead multiplied by the
    * round count (guide §1.2/§2: per-round latency is the loops'
    * floor once the state vectors are kilobytes). Skew-sensitive
    * deployments set [[AdaptiveKey]]=true to keep AQE's runtime
    * join re-planning inside loops. */
  def withLoopPartitions[T](spark: SparkSession)(f: => T): T =
    spark.conf.getOption(ConfKey) match {
      case None => f
      case Some(v) =>
        val n = InputPartitions.parse(ConfKey, v)
        val keepAqe = spark.conf.getOption(AdaptiveKey)
          .exists(_.trim.equalsIgnoreCase("true"))
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        if (!keepAqe)
          spark.conf.set("spark.sql.adaptive.enabled", "false")
        try f
        finally {
          spark.conf.set("spark.sql.shuffle.partitions", prev)
          if (!keepAqe)
            spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        }
    }
}
