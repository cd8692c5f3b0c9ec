package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew stress for the star-capped LSH pair generators: a PLANTED
  * 50,000-member exact-duplicate family — the worst case the caps
  * exist for. Uncapped, one such family is n²/2 ≈ 1.25 × 10⁹ pairs in
  * a single bucket's self-join task (it would not finish here, let
  * alone at web scale); capped, the pair set is ≤ n·cap by
  * construction. The prior rounds pinned the cap's SEMANTICS
  * (property tests, plan shape); this spec pins the measured SCALE
  * claim: the 50k family completes in seconds with an exactly-bounded
  * pair count and the min-id star fully intact, and a same-corpus
  * capped-vs-uncapped timing pair on a 2,000-member family reports
  * the quadratic blowup the cap removes (counts exact, wall times in
  * the test report via info()).
  *
  * This spec's first run exposed that [[graft.ops.StarCap.cond]]
  * alone bounded only the EMITTED pairs — the equi-join still
  * evaluated |bucket|² predicate rows per key group (155 s for the
  * 50k family on 4 cores; 10¹⁸ comparisons for a 10⁹-doc family).
  * [[graft.ops.StarCap.ySide]] now pre-filters the join's y side to
  * representatives-or-small-bucket rows, making join work ≤
  * |bucket|·cap with bit-identical output (50k family: 155 s → 14 s
  * here, same exact counts) — the <120 s assertions below would
  * catch that bound regressing.
  */
class SkewStressSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** `famN` exact copies of one 30-word text (ids 0..famN-1) over a
    * background corpus of `uniqN` pairwise-unshingled docs (ids
    * 1000000+) — the planted viral family can't leak edges into the
    * background, so every expected count below is exact. */
  private def corpus(famN: Int, uniqN: Int): DataFrame = {
    import spark.implicits._
    val famText = (0 until 30).map(i => s"dup$i").mkString(" ")
    val fam = (0 until famN).map(i => (i.toLong, famText))
    val uniq = (0 until uniqN).map(i =>
      (1000000L + i, (0 until 30).map(j => s"u${i}w$j").mkString(" ")))
    (fam ++ uniq).toDF("doc_id", "text").repartition(8)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (total pairs, pairs incident to doc 0 = the min-id representative). */
  private def pairStats(pairs: DataFrame): (Long, Long) = {
    val r = pairs.agg(
      count(lit(1)).as("n"),
      sum(when(col("doc_a") === 0L, 1L).otherwise(0L)).as("star")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("minhash: a planted 50k exact-duplicate family stays O(n·cap) and connected") {
    val n = 50000
    val docs = corpus(n, 2000)
    val ((total, star), secs) = timed {
      pairStats(graft.ops.DedupOps.minhashPairsDf(docs, maxBucket = 64))
    }
    info(f"minhash 50k-family + 2k background: $total pairs in $secs%.1f s " +
      f"(uncapped would be ${n.toLong * (n - 1) / 2} pairs)")
    // star shape: 64 representatives all-pairs + every non-rep × 64 reps
    val expected = 64L * 63 / 2 + (n - 64L) * 64
    assert(total == expected, s"expected exactly $expected capped pairs, got $total")
    // the min id pairs with EVERY family member — CC/keep-min dedup
    // over the capped pairs equals the full-clique result
    assert(star == n - 1L, s"min-id star degree ${star} != ${n - 1}")
    assert(secs < 120, f"50k family took $secs%.1f s — join-side cap no longer bounding work")
  }

  test("simhash: the same 50k family is bounded per band and fully star-connected") {
    val n = 50000
    val docs = corpus(n, 2000)
    val ((total, star), secs) = timed {
      pairStats(graft.ops.DedupOps.simhashPairsDf(docs, maxBucket = 64))
    }
    info(f"simhash 50k-family + 2k background: $total pairs in $secs%.1f s")
    // exact duplicates share ALL simhash bits, so sub-splitting lands
    // the whole family in one sub-bucket per band and the star cap is
    // the only bound: distinct pair set = the minhash star shape
    val expected = 64L * 63 / 2 + (n - 64L) * 64
    assert(total == expected, s"expected exactly $expected capped pairs, got $total")
    assert(star == n - 1L, s"min-id star degree ${star} != ${n - 1}")
    assert(secs < 120, f"50k family took $secs%.1f s — join-side cap no longer bounding work")
  }

  test("embdup LSH: a 50k identical-embedding family stays O(n·cap) and star-connected") {
    import spark.implicits._
    val n = 50000
    val dim = 64
    // family: 50k copies of the all-ones direction; background: 60
    // one-hot vectors (pairwise cos exactly 0, cos vs family 1/8 —
    // far below the 0.9 threshold), so the expected pair set is the
    // family star EXACTLY, whatever the trained centroid layout
    val fam = (0 until n).map(i => (i.toLong, Array.fill(dim)(1.0)))
    val bg = (0 until 60).map { i =>
      val v = Array.fill(dim)(0.0); v(i % dim) = 1.0
      (1000000L + i, v)
    }
    val emb = (fam ++ bg).toDF("vec_id", "e").repartition(8)
    val ((total, star), secs) = timed {
      val pairs = graft.ops.DedupOps.embdupLshPairs(spark, emb,
        nlistOpt = Some(8), maxBucket = 64)
      val r = pairs.agg(
        count(lit(1)).as("n"),
        sum(when(col("id_a") === 0L, 1L).otherwise(0L)).as("star")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    info(f"embdup 50k-family + 60 background: $total pairs in $secs%.1f s")
    val expected = 64L * 63 / 2 + (n - 64L) * 64
    assert(total == expected, s"expected exactly $expected capped pairs, got $total")
    assert(star == n - 1L, s"min-id star degree ${star} != ${n - 1}")
    assert(secs < 120, f"50k family took $secs%.1f s — join-side cap no longer bounding work")
  }

  test("capped vs uncapped on a 2k family: the measured quadratic-blowup pair") {
    val n = 2000
    val docs = corpus(n, 2000)
    val ((cappedTotal, cappedStar), cappedSecs) = timed {
      pairStats(graft.ops.DedupOps.minhashPairsDf(docs, maxBucket = 64))
    }
    val ((uncappedTotal, _), uncappedSecs) = timed {
      // a cap above any bucket size = the pre-cap all-pairs semantics
      pairStats(graft.ops.DedupOps.minhashPairsDf(docs, maxBucket = 1 << 30))
    }
    info(f"2k family: capped $cappedTotal pairs in $cappedSecs%.2f s; " +
      f"uncapped $uncappedTotal pairs in $uncappedSecs%.2f s " +
      f"(${uncappedTotal.toDouble / cappedTotal}%.0fx the pair work)")
    assert(uncappedTotal == n.toLong * (n - 1) / 2, "uncapped must be the full clique")
    assert(cappedTotal == 64L * 63 / 2 + (n - 64L) * 64)
    assert(cappedStar == n - 1L)
    // ~15.6x fewer pairs at n=2000; the gap grows linearly in n (at
    // the 50k family above it is 391x, at a 10⁹-doc web family 10⁷x)
    assert(cappedTotal * 10 < uncappedTotal)
  }
}
