package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot join keys at scale.
  *
  * The fact side picks a deterministic salt in [0, salts); the
  * dimension is replicated across all salts, so the join key becomes
  * (key, salt) and the hot key's rows spread over `salts` reducers
  * instead of one.
  *
  * === Decision rule (measured, BASELINE.md r7) ===
  *
  * Head-to-head (BASELINE.md, "AQE skew-join vs explicit salting")
  * on the q25 join shape with a fabricated hot key (broadcast
  * disabled), AQE's skew-join beat [[saltedJoin]] at every probed
  * regime — 20×/20% skew: 1.2 s vs 1.9 s; 50×/50%: 1.1 s vs
  * 2.6 s; 100×/90%: 1.3 s vs 3.3 s (static join: 2.9 / 4.5 / 8.6 s).
  * Structurally: AQE splits ONLY the oversized partitions and joins
  * each split against just the matching dim rows, while salting
  * replicates the ENTIRE dimension `salts`× and widens every row's
  * shuffle key whether skewed or not. So:
  *
  *  1. a broadcastable dimension needs neither — broadcast it;
  *  2. BATCH skewed equi-join → leave it to AQE
  *     (`spark.sql.adaptive.skewJoin.enabled`, thresholds sized to
  *     the data); reach for [[saltedJoin]] only when the plan must
  *     avoid sort-merge or AQE is off;
  *  3. skewed AGGREGATION state → [[saltedCountSum]]: AQE's skew
  *     handling covers joins, not hot groupBy buffers;
  *  4. STREAMING micro-batches → salting is the only option: Spark
  *     disables AQE inside streaming queries.
  */
object Skew {

  /** Deterministic per-row salt: hash of the whole row spread over
    * [0, salts) — no RNG, so retries/replays are stable. */
  private def rowSalt(df: DataFrame, salts: Int): Column =
    pmod(hash(df.columns.map(col): _*), lit(salts))

  /** Equi-join `fact ⋈ dim` on `key`, salted `salts` ways. Result is
    * row-identical to the unsalted join (verified in SkewSpec). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int): DataFrame = {
    val factS = fact.withColumn("_salt", rowSalt(fact, salts))
    val dimS = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    factS.join(dimS, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-phase salted aggregation for per-key COUNT/SUM when a single
    * key dominates: phase 1 aggregates on (key, salt), phase 2
    * combines partials per key. (For plain count/sum Spark's map-side
    * partial aggregation usually suffices; this is the explicit
    * construction for buffer-heavy aggregates.) */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
      salts: Int): DataFrame =
    df.withColumn("_salt", rowSalt(df, salts))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_cnt"), sum(col(valueCol)).as("_sum"))
      .groupBy(col(key))
      .agg(sum(col("_cnt")).as("n"), sum(col("_sum")).as("total"))
}
