package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The viral-bucket bound shared by all three LSH pair generators
  * ([[DedupOps.minhashPairsDf]], [[DedupOps.simhashPairsDf]],
  * [[DedupOps.embdupLshPairs]]): a bucket over `maxBucket` members is
  * star-capped — each member pairs only with the bucket's first
  * `maxBucket` members in rank order — so per-bucket pair work is
  * ≤ |bucket|·maxBucket instead of |bucket|²; small buckets keep full
  * all-pairs enumeration.
  *
  * Ranking is ID-ASCENDING everywhere: the minimum id is then a
  * representative in every bucket it occupies, which makes the
  * downstream contracts unconditional — keep-min-id survivor selection
  * (semDedup), min-label connected components (duplicateGroups), and
  * the planted-pair oracles (a planted original with id < maxBucket
  * always ranks ≤ maxBucket, so its copy-pair always surfaces).
  */
private[graft] object StarCap {

  /** Adds `rk` (1-based rank by ascending `id` within `keys`) and
    * `bsz` (bucket size) columns. The window's shuffle keys equal the
    * subsequent self-join's, so the Exchange is reused at runtime. */
  def rank(df: DataFrame, keys: Seq[Column], id: Column): DataFrame = {
    val part = Window.partitionBy(keys: _*)
    df.withColumn("rk", row_number().over(part.orderBy(id.asc)))
      .withColumn("bsz", count(lit(1)).over(part))
  }

  /** Pair predicate over the two sides of the self-join: all-pairs
    * below the cap; above it, y must be a representative outranking x.
    * Each unordered pair is emitted once either way (in the star
    * branch id-ascending ranks make x the higher id; in the all-pairs
    * branch x is the lower) — callers normalize the output columns
    * with least/greatest. */
  def cond(maxBucket: Int, xId: Column, yId: Column,
      xRk: Column, yRk: Column, bsz: Column): Column =
    when(bsz <= maxBucket, xId < yId)
      .otherwise(yRk <= maxBucket && xRk > yRk)

  /** The JOIN-SIDE bound: rows eligible as a pair's y side — every
    * row of a small bucket, only the `maxBucket` representatives of a
    * viral one. [[cond]] alone bounds the EMITTED pairs but the
    * equi-join still evaluates |bucket|·|bucket| predicate rows per
    * key group (measured: a planted 50k exact-duplicate family = 4 ×
    * 2.5·10⁹ comparisons, 155 s on 4 cores; a 10⁹-doc web family
    * would be 10¹⁸ — the cap wouldn't actually save the job).
    * Filtering the y side to this set FIRST makes the join's
    * per-bucket work ≤ |bucket|·maxBucket too, with BIT-IDENTICAL
    * output: the all-pairs branch only fires when bsz ≤ maxBucket
    * (every row kept), and the star branch's `yRk <= maxBucket`
    * conjunct already admits only representatives. */
  def ySide(ranked: DataFrame, maxBucket: Int): DataFrame =
    ranked.filter(col("bsz") <= maxBucket || col("rk") <= maxBucket)
}
