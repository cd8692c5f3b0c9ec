package graft.ops

import graft.{Decl, Pack, Tables}
import graft.functions.Fingerprints
import graft.ops.Warehouse.{dirTag, withGraftCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup operators (SURVEY.md §2.2 `ext`): exact and canonical-text
  * dedup, the near-dup families (MinHash and SimHash banding, n-gram
  * Jaccard and prefix/substring spans, embedding cosine and its
  * LSH-bucketed scale path, SemDeDup), connected-component clustering,
  * fingerprints, benchmark contamination, and the dedup reports.
  *
  * Scale design (100 TB): every near-dup variant goes through a
  * blocking key (band hash, LSH bucket, gram, fingerprint), so
  * candidate generation is an equi-join, never an O(n²) cross
  * product; viral buckets are star-capped ([[StarCap]]) or gated by
  * document frequency ([[MaxGramDf]]).
  */
object DedupOps extends Pack {

  /** MinHash/LSH candidate pairs: k=16 seeded xxhash64 min-signatures,
    * banded 4×4; equi-join on (band, band_hash).
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsDf(Tables(spark, dir, "documents"))

  /** Same pipeline over any (doc_id, text) DataFrame.
    *
    * Bucket-size bound (the [[simhashPairsDf]] /
    * [[MaxGramDf]] lesson applied to the third LSH operator):
    * a (band, band-hash) bucket is a near-identical family — at web
    * scale an exact-duplicate family of n docs would otherwise
    * enumerate 4·n²/2 pairs in one task. Buckets over `maxBucket`
    * star-cap to the `maxBucket` smallest doc_ids: per-bucket pairs
    * are ≤ |bucket|·maxBucket, and because minhash pairs face no
    * downstream distance gate, every member's edge to the rank-1
    * (minimum-id) representative ALWAYS survives — connectivity, and
    * therefore connected-component dedup ([[duplicateGroups]]),
    * is preserved EXACTLY, and keep-min-id survivor selection is
    * unchanged (the min id is rank 1 in every bucket it occupies).
    */
  def minhashPairsDf(input: DataFrame, maxBucket: Int = 64): DataFrame = {
    val docs = input
      .withColumn("ws", Text.words(lower(col("text"))))
      .filter(size(col("ws")) >= 3)
    val shingled = docs.select(col("doc_id"),
      explode(array_distinct(Text.grams(col("ws"), 3))).as("shingle"))
    val sigCols = (0 until 16).map(i => min(xxhash64(col("shingle"), lit(i))).as(s"mh$i"))
    val sigs = shingled.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bands = sigs.select(col("doc_id"), explode(array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until 4).map(r => col(s"mh${b * 4 + r}")): _*).as("bh"))
    }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val ranked = StarCap.rank(bands, Seq(col("band"), col("bh")), col("doc_id"))
    val pairCond = StarCap.cond(maxBucket, col("x.doc_id"), col("y.doc_id"),
      col("x.rk"), col("y.rk"), col("x.bsz"))
    ranked.alias("x").join(StarCap.ySide(ranked, maxBucket).alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") && pairCond)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b")).distinct()
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  /** (doc_id, simhash) signatures — the first stage of
    * [[simhashPairsDf]], exposed so specs can reason about chunk/sub
    * windows without duplicating the pipeline. */
  private[graft] def simhashSigs(input: DataFrame): DataFrame = {
    val wordHash = input
      .withColumn("ws", Text.words(lower(col("text"))))
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitAggs = (0 until 64).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"b$b"))
    val sigs = wordHash.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val simhash = (0 until 64).map(b =>
      when(col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    sigs.select(col("doc_id"), simhash.as("simhash"))
  }

  /** 64-bit SimHash pair candidates from [[simhashSigs]] signatures:
    * per-bit ±1 vote, one pass.
    *
    * Bucket-size bound (the 100-TB guard, same lesson as
    * [[MaxGramDf]]): the in-bucket self-join's pair work is
    * Σ|bucket|², so a viral (band,chunk) bucket — at 10⁹ docs each
    * 16-bit bucket averages n/65536 docs — must never be enumerated
    * all-pairs. Two-level bound, both branches deterministic:
    *   1. a (band,chunk) bucket larger than `maxBucket` is SUB-SPLIT
    *      on 8 bits of the NEXT chunk of the same simhash — true
    *      near-dups (small hamming) agree on those bits w.h.p., so
    *      recall survives while diverse buckets shrink ×256;
    *   2. a sub-bucket STILL over `maxBucket` (an exact-duplicate
    *      family — its pair set is genuinely quadratic) is star-capped
    *      via [[StarCap]]: each doc pairs only with the bucket's first
    *      `maxBucket` docs in id-ascending rank order (doc d pairs
    *      with ranks < min(rank(d), maxBucket)), so per-bucket pairs are
    *      ≤ |bucket|·maxBucket yet every doc stays connected to the
    *      rank-1 representative — for the near-identical families
    *      that make buckets viral in practice (hamming ≈ 0, so star
    *      edges pass the hamming gate), connected-component dedup
    *      groups the family exactly as the full clique would. A
    *      DIVERSE viral sub-bucket (members ≤ 12 bits from each other
    *      but > 12 from every representative) trades that tail of
    *      recall for boundedness — the same trade [[MaxGramDf]]
    *      makes by dropping viral grams outright, and strictly more
    *      recall than that precedent keeps.
    * Cross-band duplicate suppression is a `dropDuplicates` over the
    * EMITTED pair set — bounded by construction (the caps above), so
    * the distinct shuffle moves candidate pairs, never Σ|bucket|².
    * (An earlier in-row "first shared chunk" rule was wrong once
    * sub-splitting existed: a pair split apart in an earlier band's
    * viral bucket was suppressed in every later band it shared, and
    * silently lost.)
    * The (band,chunk) count table is ≤ 4·65536 rows BY CONSTRUCTION
    * at any corpus size, so the accounting join is always broadcast.
    */
  def simhashPairsDf(input: DataFrame, maxBucket: Int = 64): DataFrame = {
    val sh = simhashSigs(input)
    // block on 4×16-bit chunks (near-dups agree on ≥1 chunk w.h.p.)
    val banded0 = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { i =>
        struct(lit(i).as("band"), expr(s"(simhash >> ${16 * i}) & 65535").as("chunk"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
    val bcnt = banded0.groupBy(col("band"), col("chunk")).agg(count(lit(1)).as("bsz"))
    val withSub = banded0.join(broadcast(bcnt), Seq("band", "chunk"))
      .withColumn("sub", when(col("bsz") > maxBucket,
          expr("shiftright(simhash, 16 * ((band + 1) % 4)) & 255"))
        .otherwise(lit(-1L)))
    // rank + size inside the (possibly sub-split) bucket; id-ascending
    // ranks (StarCap) make a planted original with id < maxBucket an
    // unconditional representative, so the q_llm_simhash oracle never
    // depends on hash luck in a viral sub-bucket
    val banded = StarCap.rank(withSub,
      Seq(col("band"), col("chunk"), col("sub")), col("doc_id"))
    // small bucket → full all-pairs (semantics unchanged); viral
    // sub-bucket → star-capped pairs, each emitted once per band
    val pairCond = StarCap.cond(maxBucket, col("x.doc_id"), col("y.doc_id"),
      col("x.rk"), col("y.rk"), col("x.bsz"))
    banded.alias("x").join(StarCap.ySide(banded, maxBucket).alias("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.sub") === col("y.sub") && pairCond)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= 12)
      // a pair sharing k (chunk, sub) keys surfaces up to k times —
      // dedup over the bounded emitted set (see class doc); hamming
      // is a function of the pair, so any survivor carries it
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first,
        col("hamming").asc_nulls_first)
  }

  /** Connected components over candidate pairs by iterative min-label
    * propagation WITH pointer jumping (pure DataFrame ops). Each round
    * is: (1) label ← min over neighbors' labels, (2) label ← label's
    * label (pointer doubling). Step 1 alone moves a label one hop per
    * round — diameter-bounded, so a chain-shaped component of length d
    * needs d rounds; step 2 halves the remaining chain depth each
    * round, giving true O(log n) convergence for ANY component shape.
    * Returns (doc_id, group) where group is the smallest doc_id in the
    * component — the canonical survivor.
    */
  def duplicateGroups(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // localCheckpoint (eager) truncates lineage each round — without it
    // the plan doubles in depth per iteration and pins every superseded
    // label set in memory, which is fatal at cluster scale.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(IterCheckpoint.apply)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(IterCheckpoint.apply)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      // 50 pointer-doubling rounds cover components of ~2^50 nodes; if
      // we're still moving labels past that, something is wrong with
      // the labels themselves — fail loudly, never return a partial
      // clustering as if it had converged.
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"duplicateGroups did not converge after $maxRounds rounds " +
          s"($changed labels still moving)")
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // Carry the previous label in-row so convergence needs a cheap
      // filter over the checkpointed result, not a self-join.
      // (Opt r21 note: dropping this mid-round checkpoint and letting
      // the jump join consume `propagated` twice was measured 2-3x
      // SLOWER — ReuseExchange does not dedupe the two occurrences
      // across the outer-join plan, so the propagate join ran twice.
      // Opt r22 note: a plain persist() instead — one less job per
      // round — measured parity at sf0.1 AND made the
      // IterCheckpointSpec block-loss chaos test flaky, so the eager
      // checkpoint stays: under continuous block eviction the round's
      // state must be re-READABLE, not merely re-computable.)
      val propagated = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .transform(IterCheckpoint.apply)
      // pointer jumping: label ← label-of-label (labels are node ids,
      // so the self-join always resolves; coalesce guards the root,
      // whose label is itself and needs no jump)
      val jump = propagated.select(col("id").as("jid"), col("label").as("jlabel"))
      val stepped = propagated.join(jump, propagated("label") === jump("jid"), "left")
        .select(col("id"), col("old_label"),
          coalesce(col("jlabel"), col("label")).as("label"))
        .transform(IterCheckpoint.apply)
      propagated.unpersist(blocking = false)
      changed = stepped.filter(col("label") < col("old_label")).count()
      labels.unpersist(blocking = false)
      labels = stepped.select(col("id"), col("label"))
    }
    // The converged labels are checkpointed, so the edge blocks can go.
    edges.unpersist(blocking = false)
    labels.select(col("id").as("doc_id"), col("label").as("group"))
      .orderBy(col("doc_id").asc_nulls_first, col("group").asc_nulls_first)
  }

  /** Embedding near-dup pairs at SCALE: every vector is assigned to
    * its `nprobe` nearest trained k-means centroids (boundary pairs
    * land in a shared list), candidate pairs are generated by an
    * equi-join WITHIN lists — Σ|list|² work, never O(n²) — and only
    * candidates pay the exact-cosine check. Recall vs the exact
    * pairwise baseline is BOUNDED by Llm3Spec. This is the unbounded
    * counterpart of q_llm_embdup's bounded-exact baseline.
    *
    * Cost balance: assignment is n·nlist·dim, candidates are
    * ~nlist·(nprobe·n/nlist)²·dim — more lists shrink buckets
    * quadratically while growing assignment linearly, so nlist ≈ n/150
    * keeps both sides ~n·dim·O(100). DEDUP targets near-identical
    * vectors (they share a nearest centroid with probability ≈ 1), so
    * the default probes ONE list; raise `nprobe` when hunting looser
    * similarity.
    */
  /** Bucket-size bound (the same viral-family guard as
    * [[minhashPairsDf]]): list sizes are ~150 BY DESIGN
    * (nlist ≈ n/150), but a massive duplicate-embedding family maps
    * to ONE centroid and would enumerate n²/2 pairs in one task.
    * Lists over `maxBucket` star-cap to the `maxBucket` smallest
    * vec_ids: per-list pairs ≤ |list|·maxBucket, and because ranking
    * is id-ascending, every member still pairs with the MINIMUM-id
    * member it is ≥threshold-close to — so [[semDedup]]'s
    * keep-first-drop-rest decision is unchanged for the
    * near-identical families that make lists viral (their pairwise
    * cosine ≈ 1 clears any threshold against the rank-1 member). */
  def embdupLshPairs(spark: SparkSession, emb: DataFrame, nlistOpt: Option[Int] = None,
      nprobe: Int = 1, threshold: Double = 0.9, maxBucket: Int = 1024): DataFrame = {
    // one sample pass serves both the size heuristic and training: a
    // partial sample means the sample IS the dataset (no count job)
    val sample = SimilarityOps.collectSample(emb)
    val nlist = nlistOpt.getOrElse {
      val n = if (sample.length < 4096) sample.length.toLong else emb.count()
      math.min(512, math.max(16, (n / 150).toInt))
    }
    val cents = SimilarityOps.trainFromSample(sample, nlist, iters = 4)
    val cdf = SimilarityOps.centroidDf(spark, cents)
    // nprobe=1 (the dedup default) is a shuffle-free projection
    // (PqEncode argmin kernel); multi-probe keeps the windowed top-n
    // over the broadcast centroid frame
    val assigned =
      if (nprobe == 1)
        SimilarityOps.assignNearest(emb, cents)
          .select(col("cid").as("bucket"), col("vec_id"), col("e"))
      else {
        val d2 = aggregate(zip_with(col("e"), col("ce"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
        val w = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
        emb.crossJoin(cdf).withColumn("d2", d2)
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= nprobe)
          .select(col("cid").as("bucket"), col("vec_id"), col("e"))
      }
    val ranked = StarCap.rank(assigned, Seq(col("bucket")), col("vec_id"))
    val a = ranked.select(col("bucket"), col("vec_id").as("ia"), col("e").as("ea"),
      col("rk").as("rk_a"), col("bsz"))
    val b = StarCap.ySide(ranked, maxBucket)
      .select(col("bucket"), col("vec_id").as("ib"), col("e").as("eb"),
        col("rk").as("rk_b"))
    val pairCond = StarCap.cond(maxBucket, col("ia"), col("ib"),
      col("rk_a"), col("rk_b"), col("bsz"))
    a.join(b, Seq("bucket")).filter(pairCond)
      .withColumn("cos", round(graft.functions.VecMath.cosineSim(col("ea"), col("eb")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos"))
      .dropDuplicates("id_a", "id_b") // multi-probe can emit a pair twice
      .orderBy(col("id_a").asc_nulls_first, col("id_b").asc_nulls_first,
        col("cos").asc_nulls_first)
  }

  /** SemDeDup-style semantic dedup: cluster (the LSH bucketing above),
    * find within-cluster pairs ≥ `threshold`, and for every pair DROP
    * the higher-id member — a deterministic keep-first policy (the
    * published method drops by distance-to-centroid; id order is its
    * tie-stable analog and keeps the decision engine-reproducible).
    * Returns the SURVIVORS. Chain semantics: if a~b and b~c but a≁c,
    * b and c both drop (b pairs with a, c pairs with b) — semantic
    * dedup wants representative coverage, not connected components.
    */
  def semDedup(spark: SparkSession, emb: DataFrame,
      threshold: Double = 0.95, maxBucket: Int = 1024): DataFrame = {
    val dropped = embdupLshPairs(spark, emb, threshold = threshold,
        maxBucket = maxBucket)
      .select(col("id_b").as("vec_id")).distinct()
    emb.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Doc-frequency cap on the 12-grams eligible as near-dup edge
    * evidence: a gram appearing in more docs than this is boilerplate
    * (license headers, navigation chrome), not duplication signal —
    * and, mechanically, one gram shared by n docs is an n²/2-pair
    * join bucket, so the cap is also the hard bound that keeps edge
    * generation Σ|bucket|² ≤ MaxGramDf·|gram rows| at any corpus
    * size. */
  val MaxGramDf = 32

  /** Near-dup connected components over shared word 12-grams (the
    * core of q_llm_dupcluster, parameterized for testing): returns
    * one row per cluster `(root, n_docs, max_doc)`. Edge generation
    * is gram-keyed with doc-frequency in [2, maxGramDf] (singleton
    * grams can't pair; viral grams are excluded — see [[MaxGramDf]]);
    * the closure runs through [[duplicateGroups]]'
    * pointer-jumping min-label propagation (O(log diameter) rounds)
    * and fails loudly if the round budget is exhausted (a silent cap
    * would return a wrong partial closure for a >budget-diameter
    * chain). */
  def dupClusters(docs: DataFrame, maxGramDf: Int = MaxGramDf,
      maxRounds: Int = 50): DataFrame = {
    duplicateGroups(dupEdges(docs, maxGramDf), maxRounds)
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .select(col("group").as("root"), col("n_docs"), col("max_doc"))
      .orderBy(col("root").asc_nulls_first)
  }

  /** The candidate near-dup edges of [[dupClusters]] (exposed so specs
    * can assert the pre-closure shape: one gram explode, no window). */
  private[graft] def dupEdges(docs: DataFrame, maxGramDf: Int = MaxGramDf): DataFrame = {
    val toks = Text.words(col("text"))
    // grams are keyed by xxhash64 the moment they exist (the
    // substrdedup lesson): every downstream shuffle — the per-doc
    // distinct, the df count, the eligibility join, the pair
    // self-join — moves 8-byte keys instead of ~80-byte 12-gram
    // strings. A 64-bit collision merging two distinct grams is a
    // ~n²/2⁶⁴ event (≪ 10⁻⁶ even at 10⁹ distinct grams — and at most
    // one spurious df/edge, not a wrong closure).
    // the gm exchange is made EXPLICIT (repartition) so the df
    // aggregate below consumes the IDENTICAL exchange subtree as the
    // join-back's row side — AQE's runtime stage reuse then
    // materializes the explode+dedup once for both consumers. (An
    // anti-join placed above the dedup instead gets pushed BELOW it by
    // the optimizer, splitting the two subtrees and re-running the
    // explode — the round-21 double-scan this spelling exists to
    // avoid.)
    val g = docs
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 12 && col("doc_id").isNotNull)
      .select(
        explode(transform(Text.grams(col("toks"), 12), g => xxhash64(g))).as("gm"),
        col("doc_id"))
      .distinct()
      .repartition(col("gm"))
    // df gate BEFORE the self-join, so the self-join below never sees
    // a bucket larger than maxGramDf rows: the eligible grams
    // (2 <= df <= maxGramDf) come from a gm-keyed aggregate — bounded
    // per-gram state in a spillable hash map — joined back to the gram
    // rows. Opt round 22: this replaced a gm-keyed count() window,
    // whose WindowExec buffered each whole gm bucket before its filter
    // ran, so one boilerplate mega-gram (df >> maxGramDf) would
    // sort-and-spill its whole bucket in one task just to be discarded.
    // Llm5Spec pins the shape: no Window, one gram explode, and dedup
    // exchanges that canonicalize identically for stage reuse.
    val eligible = g.groupBy(col("gm").as("egm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxGramDf)
      .select(col("egm"))
    val gk = g.join(eligible, col("gm") === col("egm"))
      .select(col("doc_id"), col("gm"))
    // the closure then runs through [[duplicateGroups]]'
    // pointer-jumping min-label propagation (O(log diameter) rounds)
    gk.as("x").join(gk.as("y"),
        col("x.gm") === col("y.gm") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
  }

  def decls: Seq[Decl] = Seq(

    Decl("q_llm_exactdedup", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("h", sha2(lower(trim(col("text"))).cast("binary"), 256))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("h").asc_nulls_first, col("keeper").asc_nulls_first,
          col("n_copies").asc_nulls_first),
      Some(
        """SELECT sha256(lower(trim(text))) AS h,
          |  MIN(doc_id) AS keeper, COUNT(*) AS n_copies
          |FROM documents
          |GROUP BY h HAVING COUNT(*) > 1
          |ORDER BY h ASC NULLS FIRST, keeper ASC NULLS FIRST,
          |  n_copies ASC NULLS FIRST""".stripMargin)),

    // MinHash + LSH banding near-dup candidates, oracled via a
    // PLANTED-DUPLICATE recall invariant (the raw full-corpus pair
    // set is engine-specific — hash-derived, and the synthetic corpus
    // contains genuine near-dups whose detection depends on the hash
    // family — so it stays spec-territory in OpsSpec): plant exact
    // copies of docs 0..49 at id+20000 over the FULL corpus (the
    // bench keeps measuring corpus-scale shingling + banding) and
    // emit exactly the planted-pair relation. Exact copies share
    // every shingle, hence every minhash, hence every band bucket —
    // recall of exact duplicates is 1 BY CONSTRUCTION, a cross-engine
    // fact the oracle pins as an exact 50-row expectation: a broken
    // hash, shingler, or band join loses rows and fails the DuckDB
    // gate. The projection is FP-proof at any corpus size: a pair
    // lands in it only when doc_b is doc_a's OWN copy, and that pair
    // is always found.
    Decl("q_llm_minhash", (spark, dir) => {
      // the id guard makes the planted range disjoint BY CONSTRUCTION
      // at any fixture (a no-op for every shipped one: max doc_id 4999)
      val docs = Tables(spark, dir, "documents")
        .filter(col("doc_id") < 20000).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
      minhashPairsDf(docs.unionByName(planted))
        .filter(col("doc_a") < 50 && col("doc_b") === col("doc_a") + 20000)
    }, Some(
      """SELECT doc_id AS doc_a, doc_id + 20000 AS doc_b
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST""".stripMargin)),

    // SimHash near-dup candidates, oracled via the PLANTED-DUPLICATE
    // recall invariant (the q_llm_minhash pattern), over the FULL
    // corpus so the bench keeps measuring corpus-scale signature +
    // banding work: exact copies of docs 0..49 at id+20000 have
    // bit-identical simhashes — same word multiset, same per-bit
    // votes — so every planted pair shares every (chunk, sub) key and
    // surfaces with hamming 0, a cross-engine fact pinned as an exact
    // 50-row expectation (the projection admits only a doc and its
    // OWN copy, so corpus near-dups can't pollute it; the corpus is
    // pre-filtered below the planted id base so ids can never
    // collide). Star-capping cannot drop a planted pair: ranks are
    // id-ascending, so an original with id < 50 <= maxBucket is a
    // representative in every sub-bucket it occupies — the 50-row
    // expectation is UNCONDITIONAL, not fixture luck.
    // The raw full-corpus pair set (hash-dependent) stays
    // spec-territory: Llm2Spec covers near-dup recall and the
    // viral-bucket cap.
    Decl("q_llm_simhash", (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
        .filter(col("doc_id") < 20000).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
      simhashPairsDf(docs.unionByName(planted))
        .filter(col("doc_a") < 50 && col("doc_b") === col("doc_a") + 20000)
    }, Some(
      """SELECT doc_id AS doc_a, doc_id + 20000 AS doc_b, 0 AS hamming
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST,
        |  hamming ASC NULLS FIRST""".stripMargin)),

    // Duplicate clusters from MinHash candidates (connected
    // components; keeper = min doc_id), oracled via PLANTED FAMILIES:
    // 10 docs each copied verbatim to 3 extra ids (offsets 20000/
    // 30000/40000) over a 200-doc slice. Exact copies pair with every
    // family member by construction, so the components must be
    // exactly 10 groups of 4 with keeper = the original id — the
    // oracle pins group COUNT, SIZES, and KEEPERS (and, implicitly,
    // no false merge on the slice). The raw full-corpus grouping
    // stays engine-side (hash-derived pairs), spec-checked.
    Decl("q_llm_dupgroups", (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
        .filter(col("doc_id") < 100000).select(col("doc_id"), col("text"))
      // planted families use a vocabulary DISJOINT from the corpus
      // (per-family synthetic words), so no shared shingle — and
      // hence no band bucket — can ever link a family to a corpus
      // doc or to another family; the corpus's own near-dup groups
      // (genuine, hash-dependent) are excluded by keeper range
      val famText = concat_ws(" ",
        (0 until 20).map(k =>
          concat(lit("fam"), col("id").cast("string"), lit(s"_w$k"))): _*)
      // 10 rows in ONE partition: a bare spark.range defaults to
      // defaultParallelism partitions, and 4 planted unions of it gave
      // the minhash scan stage 129 tasks, 124 of them empty (opt r21)
      val base = spark.range(0, 10, 1, 1).select(col("id"), famText.as("text"))
      val planted = Seq(100000L, 110000L, 120000L, 130000L).map(off =>
        base.select((col("id") + off).as("doc_id"), col("text")))
      val input = planted.foldLeft(docs)(_ unionByName _)
      duplicateGroups(minhashPairsDf(input))
        .filter(col("group") >= 100000)
        .groupBy(col("group"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("group").as("keeper"), col("n_docs"))
        .orderBy(col("keeper").asc_nulls_first)
    }, Some(
      """SELECT 100000 + r AS keeper, CAST(4 AS BIGINT) AS n_docs
        |FROM range(10) t(r)
        |ORDER BY keeper ASC NULLS FIRST""".stripMargin)),

    // Trigram Jaccard over consecutive doc pairs (deterministic pair
    // source keeps the oracle O(n)).
    Decl("q_llm_jaccard", (spark, dir) => {
      val tri = Tables(spark, dir, "documents")
        .filter(col("doc_id") < 200)
        .withColumn("ws", Text.words(lower(col("text"))))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), array_distinct(Text.grams(col("ws"), 3)).as("tri"))
      val a = tri.select(col("doc_id").as("doc_a"), col("tri").as("ta"))
      val b = tri.select(col("doc_id").as("doc_b"), col("tri").as("tb"))
      a.join(b, col("doc_a") + 1 === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))), 6).as("jaccard"))
        .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first,
          col("jaccard").asc_nulls_first)
    }, Some(
      """WITH tri AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tri
        |  FROM (SELECT doc_id, WORDS(lower(text)) AS ws
        |        FROM documents WHERE doc_id < 200)
        |  WHERE len(ws) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(CAST(len(list_intersect(a.tri, b.tri)) AS DOUBLE)
        |    / len(list_distinct(a.tri || b.tri)), 6) AS jaccard
        |FROM tri a JOIN tri b ON a.doc_id + 1 = b.doc_id
        |ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST,
        |  jaccard ASC NULLS FIRST""".stripMargin)),

    // Embedding-cosine near-dup pairs (bounded id range; at scale the
    // same computation runs behind the LSH bucketing of ivfTopK).
    Decl("q_llm_embdup", (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val a = emb.select(col("vec_id").as("id_a"), col("e").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("e").as("eb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", round(graft.functions.VecMath.cosineSim(col("ea"), col("eb")), 6))
        .filter(col("cos") >= 0.9)
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("id_a").asc_nulls_first, col("id_b").asc_nulls_first,
          col("cos").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id < 200)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(
        |    list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))
        |    / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(b.e, x -> x * x)))), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(
        |    list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))
        |    / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(b.e, x -> x * x)))), 6) >= 0.9
        |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST, cos ASC NULLS FIRST""".stripMargin)),

    // Native-expression document fingerprints (whole-stage codegen),
    // oracled via the PLANTED-COPY invariant: exact copies of docs
    // 0..49 (planted at id+20000, normalized identically) MUST
    // fingerprint identically row-by-row — equal input, equal fp is
    // the function's contract regardless of partition placement —
    // and differing ids/rows exercise the codegen path on distinct
    // rows rather than one cached value. Complements
    // q_llm_fingerprint_inv (distinct text → distinct-pair count);
    // the raw hash values stay engine-side, spec-pinned in Llm2Spec
    // (codegen vs interpreted agreement).
    Decl("q_llm_fingerprint", (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
      def fps(df: DataFrame, a: String, b: String) = df.select(
        col("doc_id"),
        Fingerprints.text_fingerprint(lower(trim(col("text")))).as(a),
        Fingerprints.winnow_fingerprint(lower(trim(col("text"))), 16).as(b))
      fps(docs.filter(col("doc_id") < 50), "fp", "wfp").alias("x")
        .join(fps(planted, "fp2", "wfp2").alias("y"),
          col("x.doc_id") + 20000 === col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"),
          (col("fp") === col("fp2")).as("fp_match"),
          (col("wfp") === col("wfp2")).as("winnow_match"))
        .orderBy(col("doc_a").asc_nulls_first)
    }, Some(
      """SELECT doc_id AS doc_a, TRUE AS fp_match, TRUE AS winnow_match
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_a ASC NULLS FIRST""".stripMargin)),

    // Oracle-checkable INVARIANTS of the engine-specific fingerprints:
    // the hash values themselves can't cross-check against DuckDB, but
    // their functional behavior can — every distinct normalized text
    // maps to exactly ONE fp / winnow_fp (determinism across the
    // distributed run), so the (text, fp) pair count equals the
    // distinct-text count. A nondeterministic or partition-dependent
    // fingerprint breaks this even when per-row specs pass.
    Decl("q_llm_fingerprint_inv", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(lower(trim(col("text"))).as("t"),
          Fingerprints.text_fingerprint(lower(trim(col("text")))).as("fp"),
          Fingerprints.winnow_fingerprint(lower(trim(col("text"))), 16).as("wfp"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("t")).as("n_texts"),
          countDistinct(col("t"), col("fp")).as("n_text_fp_pairs"),
          countDistinct(col("t"), col("wfp")).as("n_text_wfp_pairs")),
      Some(
        """SELECT COUNT(*) AS n_docs,
          |  COUNT(DISTINCT lower(trim(text))) AS n_texts,
          |  COUNT(DISTINCT lower(trim(text))) AS n_text_fp_pairs,
          |  COUNT(DISTINCT lower(trim(text))) AS n_text_wfp_pairs
          |FROM documents""".stripMargin)),

    // Semantic dedup survivors rolled up per label, oracled via a
    // PLANTED-DUPLICATE invariant: bit-identical copies of vectors
    // 0..9 (planted at id+10000, same label) always share their
    // nearest-centroid bucket and pair at cosine exactly 1 ≥ the 0.95
    // threshold, so keep-first drops precisely the higher-id copies;
    // and the corpus itself contains NO pair within 0.43 of the
    // threshold (max off-diagonal cosine ≈ 0.51 — checked against the
    // fixture), so no corpus vector can drop under ANY bucketing.
    // Survivors are therefore exactly the original table — a
    // cross-engine rollup DuckDB recomputes independently. Llm3Spec
    // keeps the sharper pairwise keep/drop assertions.
    Decl("q_llm_semdedup", (spark, dir) => {
      // vec_id guard as in q_llm_embdup_lsh: keeps the planted range
      // disjoint at any fixture (no-op for every shipped one)
      val emb = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") < 10000)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e"))
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"), col("label"), col("e"))
      semDedup(spark, emb.unionByName(planted))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_kept"), min(col("vec_id")).as("first_kept"))
        .orderBy(col("label").asc_nulls_first)
    }, Some(
      """SELECT label, COUNT(*) AS n_kept, MIN(vec_id) AS first_kept
        |FROM embeddings WHERE vec_id < 10000
        |GROUP BY label
        |ORDER BY label ASC NULLS FIRST""".stripMargin)),

    // Embedding near-dup at scale (LSH-bucketed), oracled via a
    // PLANTED-DUPLICATE recall invariant: copies of vectors 0..9 at
    // id+10000 are bit-identical, so both members get the SAME
    // nearest-centroid bucket no matter what the (engine-specific)
    // k-means training produced, and the pair surfaces with cosine
    // exactly 1.0 — a cross-engine fact the oracle pins as 10 exact
    // rows. The raw pair set (hash/centroid-dependent) stays
    // spec-territory: Llm3Spec bounds recall vs the exact baseline.
    Decl("q_llm_embdup_lsh", (spark, dir) => {
      // vec_id guard: planted range disjoint BY CONSTRUCTION at any
      // fixture (no-op for every shipped one: max vec_id 1999)
      val emb = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") < 10000)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"), col("e"))
      embdupLshPairs(spark, emb.unionByName(planted))
        .filter(col("id_a") < 10 && col("id_b") === col("id_a") + 10000)
    }, Some(
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b,
        |  CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST,
        |  cos ASC NULLS FIRST""".stripMargin)),

    // Benchmark-contamination scan: flag corpus docs sharing any word
    // 5-gram with a benchmark set (stand-in: doc_id < 10). The
    // benchmark gram set is tiny at any corpus scale (eval suites,
    // not corpora) → distinct + eager localCheckpoint + BROADCAST:
    // materializing the bench grams up front cuts the second
    // `documents` scan out of the main plan, so the sweep over the
    // 100 TB side is ONE scan + explode + broadcast-hash-join +
    // per-doc agg, no full shuffle of the corpus grams.
    Decl("q_llm_contamination", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      val g = Tables(spark, dir, "documents")
        .withColumn("ws", ws)
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"),
          explode(Text.grams(col("ws"), 5)).as("g"))
      val bench = g.filter(col("doc_id") < 10).select(col("g")).distinct()
        .localCheckpoint()
      g.filter(col("doc_id") >= 10)
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("hits"))
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            WORDS(lower(text)) AS ws
        |          FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(GRAMS(ws, 5)) AS g
        |      FROM w WHERE len(ws) >= 5),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(COUNT(DISTINCT g.g) AS BIGINT) AS hits
        |FROM g JOIN b USING (g) WHERE g.doc_id >= 10
        |GROUP BY g.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Near-exact dup groups under canonicalization: everything exact
    // dedup finds, plus punctuation/case/whitespace variants. One
    // hash-keyed shuffle, like q_llm_exactdedup.
    Decl("q_llm_normalize", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("h", sha2(Text.normText(col("text")).cast("binary"), 256))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_variants"))
        .filter(col("n_variants") > 1)
        .orderBy(col("h").asc_nulls_first, col("keeper").asc_nulls_first,
          col("n_variants").asc_nulls_first),
      Some(
        """SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
          |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h,
          |  MIN(doc_id) AS keeper, COUNT(*) AS n_variants
          |FROM documents
          |GROUP BY h HAVING COUNT(*) > 1
          |ORDER BY h ASC NULLS FIRST, keeper ASC NULLS FIRST,
          |  n_variants ASC NULLS FIRST""".stripMargin)),

    // Dedup yield per source: docs in vs canonical docs out (under
    // normalization) — the "how much survives dedup" report every
    // corpus build wants per slice. COUNT(DISTINCT hash) per source =
    // one partial-agg shuffle.
    Decl("q_llm_dedupyield", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("h", sha2(Text.normText(col("text")).cast("binary"), 256))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_kept"))
        .withColumn("keep_pct",
          round((col("n_kept").cast("decimal(18,6)") * lit(100)) /
            col("n_docs").cast("decimal(9,3)"), 2)
            .cast("decimal(18,2)").cast("double"))
        .orderBy(col("source").asc_nulls_first),
      Some(
        """SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT sha256(trim(regexp_replace(regexp_replace(lower(text),
          |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS n_kept,
          |  D2(CAST(COUNT(DISTINCT sha256(trim(regexp_replace(regexp_replace(lower(text),
          |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS DECIMAL(18,6)) * 100
          |    / CAST(COUNT(*) AS DECIMAL(9,3))) AS keep_pct
          |FROM documents
          |GROUP BY source
          |ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // Cross-source duplicate audit: identical text in >1 source is
    // train/eval leakage waiting to happen (the same hygiene check as
    // q_llm_contamination, but corpus-internal). Hash-keyed groupBy;
    // the HAVING keeps output O(dupes), never O(corpus).
    Decl("q_llm_crossdedup", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("h", sha2(lower(trim(col("text"))).cast("binary"), 256))
        .groupBy(col("h"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_sources") > 1)
        .orderBy(col("h").asc_nulls_first),
      Some(
        """SELECT sha256(lower(trim(text))) AS h,
          |  COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs,
          |  MIN(doc_id) AS first_doc
          |FROM documents
          |GROUP BY h HAVING COUNT(DISTINCT source) > 1
          |ORDER BY h ASC NULLS FIRST""".stripMargin)),

    // Near-duplicate CLUSTERS, not just pairs: docs sharing any whole
    // word 12-gram are edges; connected components (min-label
    // propagation to fixpoint) give each dup family one canonical
    // root — what a dedup pass actually keys its "keep one per
    // cluster" decision on. Scale shape: the candidate edge join is
    // gram-keyed AND doc-frequency-capped (grams in >MaxGramDf docs
    // are boilerplate, not near-dup evidence — and an uncapped viral
    // gram shared by n docs is an n²/2-pair bucket that OOMs one
    // task at corpus scale), so pair work is Σ|bucket|² ≤ df·rows,
    // never all-pairs; each propagation round is two keyed shuffles
    // with lineage truncated per round; rounds needed = component
    // diameter, which for near-dup families (near-cliques) is a
    // small constant — and non-convergence within the round budget
    // fails LOUDLY rather than returning a partial closure. The
    // fixpoint is order-independent, so the result is deterministic
    // and DuckDB's recursive-CTE closure (same df cap) agrees
    // exactly.
    Decl("q_llm_dupcluster", (spark, dir) =>
      dupClusters(Tables(spark, dir, "documents")), Some(
      s"""WITH RECURSIVE
        |w AS (SELECT doc_id,
        |        WORDS(text) AS toks
        |      FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(GRAMS(toks, 12)) AS gm
        |      FROM w WHERE len(toks) >= 12),
        |gk AS (SELECT doc_id, gm FROM g
        |       QUALIFY COUNT(*) OVER (PARTITION BY gm)
        |         BETWEEN 2 AND $MaxGramDf),
        |e AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |      FROM gk x JOIN gk y ON x.gm = y.gm AND x.doc_id < y.doc_id),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |node AS (SELECT DISTINCT a AS doc FROM sym),
        |lab AS (SELECT n.doc, LEAST(n.doc, MIN(r.b)) AS root
        |        FROM node n LEFT JOIN reach r ON r.a = n.doc
        |        GROUP BY n.doc)
        |SELECT root, COUNT(*) AS n_docs, MAX(doc) AS max_doc
        |FROM lab GROUP BY root
        |ORDER BY root ASC NULLS FIRST""".stripMargin)),

    // Winnowing fingerprints (MOSS): hash every k=4-word gram, slide
    // a w=4 window over the hash sequence, keep each window's min —
    // any shared token run of >= w+k-1 = 7 words between two docs is
    // guaranteed to share a fingerprint, unlike minhash which only
    // bounds whole-doc similarity. Hash = first 16 hex chars of
    // md5(gram): identical STRING in both engines, compared
    // lexicographically, so no engine-specific hash leaks into the
    // oracle. Plan shape: per-doc projection + explode, then ONE
    // doc_id shuffle shared by the window and the DISTINCT (both
    // doc_id-keyed) — window state is w rows. Fingerprint volume is
    // ~|grams|/w per doc, independent of corpus size.
    Decl("q_llm_winnow", (spark, dir) => {
      val toks = Text.words(lower(col("text")))
      val grams = Tables(spark, dir, "documents")
        .withColumn("toks", toks)
        .filter(size(col("toks")) >= 4)
        .select(col("doc_id"),
          posexplode(transform(Text.grams(col("toks"), 4), g => substring(md5(g), 1, 16)))
            .as(Seq("pos", "h")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, 3)
      grams
        .select(col("doc_id"), min(col("h")).over(w).as("fp"))
        .distinct()
        .orderBy(col("doc_id").asc_nulls_first, col("fp").asc_nulls_first)
    }, Some(
      """WITH t AS (SELECT doc_id,
        |            WORDS(lower(text)) AS toks
        |          FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |        substr(md5(array_to_string(toks[i+1:i+4], ' ')), 1, 16) AS h
        |      FROM t, unnest(range(0, len(toks) - 3)) AS u(i)
        |      WHERE len(toks) >= 4),
        |f AS (SELECT doc_id,
        |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g)
        |SELECT DISTINCT doc_id, fp FROM f
        |ORDER BY doc_id ASC NULLS FIRST, fp ASC NULLS FIRST""".stripMargin)),

    // Template-prefix duplication: group docs by their first 16 chars
    // — catches boilerplate headers/templated pages whose BODIES all
    // differ (so content dedup keeps them all). One hash-partitioned
    // groupBy on (source, prefix), then a per-source rollup —
    // integer-exact throughout, skew-free (prefix cardinality is
    // data-bounded, and a pathological single-prefix corpus is
    // exactly what the op exists to surface).
    Decl("q_llm_prefixdup", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(col("source"), substring(col("text"), 1, 16).as("pfx"))
        .groupBy(col("source"), col("pfx"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_prefixes"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
        .orderBy(col("source").asc_nulls_first),
      Some(
        """WITH p AS (SELECT source, substr(text, 1, 16) AS pfx, COUNT(*) AS c
          |  FROM documents GROUP BY 1, 2)
          |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
          |  COUNT(*) AS n_prefixes,
          |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
          |FROM p GROUP BY source
          |ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // Substring-level duplication (the Lee et al. "deduplicating
    // training data" failure mode exact-doc dedup misses): 64-char
    // spans at stride 32 — any ≥95-char shared region is guaranteed to
    // contain at least one aligned span — grouped cross-doc; a span in
    // 2+ distinct docs marks every carrying doc. Per source: affected
    // docs and duplicated-span instances. Shorter-than-64-char docs
    // contribute their whole text as one span (degenerates to exact
    // dedup, which is the right semantics there).
    Decl("q_llm_substrdedup", (spark, dir) => {
      val sp = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1),
            greatest(length(col("text")) - 63, lit(1)), lit(32))).as("s"),
          col("text"))
        .select(col("doc_id"), col("source"),
          expr("substring(text, s, 64)").as("span"))
        .withColumn("h", xxhash64(col("span")))
      // the corpus-wide shuffle folds each span to its 8-byte xxhash64
      // (column pruning keeps raw spans out of this exchange); a hash
      // collision can only ADD a candidate, never drop one, so exact
      // semantics are restored by re-grouping the (small) candidate
      // subset on the raw span before counting
      val candHash = sp.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("h"))
      val cand = sp.join(candHash, "h")
      val dupSpan = cand.groupBy(col("span"))
        .agg(countDistinct(col("doc_id")).as("nd2"))
        .filter(col("nd2") > 1)
        .select(col("span"))
      cand.join(dupSpan, "span")
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs_affected"),
          count(lit(1)).as("n_dup_instances"))
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH sp AS (
        |  SELECT doc_id, source,
        |    substr(text, CAST(unnest(generate_series(1,
        |      greatest(length(text) - 63, 1), 32)) AS INTEGER), 64) AS span
        |  FROM documents),
        |dup AS (SELECT span FROM sp GROUP BY span
        |        HAVING COUNT(DISTINCT doc_id) > 1)
        |SELECT source,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
        |  CAST(COUNT(*) AS BIGINT) AS n_dup_instances
        |FROM sp JOIN dup USING (span)
        |GROUP BY source
        |ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // INCREMENTAL corpus dedup — the O(increment) shape a daily
    // 100 TB ingest needs: only the NEW commit's documents are read
    // (the `$changes` incremental scan touches just the files that
    // commit added), hashed, and joined against the historical
    // corpus's distinct-hash set (the snapshot-pinned state read).
    // Re-crawls are counted per language without ever re-reading the
    // old corpus's text twice or re-deduping the whole table. The
    // old-hash side is a hash-keyed shuffle join (NOT broadcast — at
    // corpus scale the history's hash set is itself huge).
    Decl("q_llm_incdedup", (spark, dir) => {
      val cname = withGraftCatalog(spark, s"graftinc${dirTag(dir)}", Some("inc"))
      spark.sql(s"CREATE TABLE $cname.inc.docs (doc_id BIGINT, text STRING, lang STRING)")
      Tables(spark, dir, "documents").createOrReplaceTempView("docs_src_inc")
      spark.sql(s"INSERT INTO $cname.inc.docs " +
        "SELECT doc_id, text, lang FROM docs_src_inc WHERE doc_id % 3 = 0")
      val cata = spark.sessionState.catalogManager.catalog(cname)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val s1 = cata.loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("inc"), "docs"))
        .asInstanceOf[graft.catalog.GraftTable].meta.currentSnapshotId.get
      spark.sql(s"INSERT INTO $cname.inc.docs " +
        "SELECT doc_id, text, lang FROM docs_src_inc WHERE doc_id % 3 <> 0")
      val newDocs = spark.read.option("start-snapshot-id", s1.toString)
        .table(s"$cname.inc.`docs$$changes`")
        .filter(col("_change_type") === "insert")
        .select(col("lang"), sha2(lower(trim(col("text"))), 256).as("h"))
      val oldHashes = spark.sql(
          s"SELECT DISTINCT sha2(lower(trim(text)), 256) AS h " +
            s"FROM $cname.inc.docs VERSION AS OF $s1")
        .withColumn("is_old", lit(1))
      newDocs.join(oldHashes, Seq("h"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"),
          count(col("is_old")).as("n_dup_of_old"),
          countDistinct(when(col("is_old").isNull, col("h"))).as("n_unique_added"))
        .orderBy(col("lang").asc_nulls_first)
    }, Some(
      """WITH oldh AS (SELECT DISTINCT sha256(lower(trim(text))) AS h
        |              FROM documents WHERE doc_id % 3 = 0),
        |newd AS (SELECT lang, sha256(lower(trim(text))) AS h
        |         FROM documents WHERE doc_id % 3 <> 0)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_new,
        |  CAST(COUNT(o.h) AS BIGINT) AS n_dup_of_old,
        |  CAST(COUNT(DISTINCT CASE WHEN o.h IS NULL THEN n.h END) AS BIGINT)
        |    AS n_unique_added
        |FROM newd n LEFT JOIN oldh o ON n.h = o.h
        |GROUP BY lang
        |ORDER BY lang ASC NULLS FIRST""".stripMargin)),

  )
}
