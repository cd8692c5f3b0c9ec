package graft

import graft.functions.Fingerprints
import graft.ops.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Llm2Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("simhash finds planted near-duplicates with small hamming distance") {
    val base = Tables(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
    val nearCopies = base.select((col("doc_id") + 20000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+", "changedword").as("text"))
    val pairs = DedupOps.simhashPairsDf(base.unionByName(nearCopies)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    val found = (0L until 10L).count(i => pairs.exists(p => p._1 == i && p._2 == i + 20000))
    // simhash is the coarse/cheap variant: one changed word in a short
    // doc can flip >12 bits — minhash is the high-recall path (10/10)
    assert(found >= 6, s"simhash caught only $found/10 near dups; pairs=${pairs.length}")
    pairs.filter(p => p._2 - p._1 == 20000L).foreach { case (_, _, d) =>
      assert(d <= 12)
    }
  }

  test("graft.iter.checkpoint-dir switches iteration boundaries to reliable checkpoints") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = Tables(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 40).select(col("doc_id"), col("text"))
    def groups() = DedupOps.duplicateGroups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def clusters() = DedupOps.dupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (gLocal, cLocal) = (groups(), clusters())
    val dir = java.nio.file.Files.createTempDirectory("graft_iter_chk").toString
    spark.conf.set("graft.iter.checkpoint-dir", dir)
    try {
      assert(groups() == gLocal, "reliable-checkpoint path changed duplicateGroups")
      assert(clusters() == cLocal, "reliable-checkpoint path changed dupClusters")
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dir)),
        "checkpoint dir not adopted")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint blocks written")
    } finally spark.conf.unset("graft.iter.checkpoint-dir")
  }

  test("StarCap property: the ySide join-input filter is pair-for-pair identical") {
    // the r16 join-side bound claims BIT-IDENTICAL output: joining x
    // against ySide(ranked) must emit exactly the pairs the unfiltered
    // self-join does, for caps straddling every bucket size
    import spark.implicits._
    import graft.ops.StarCap
    import org.apache.spark.sql.functions.{col, least, greatest}
    val rnd = new scala.util.Random(7)
    val rows = (0 until 10).flatMap { b =>
      val n = 1 + rnd.nextInt(60)
      (0 until n).map(_ => (b.toLong, rnd.nextInt(100000).toLong))
    }.distinct
    val df = rows.toDF("bucket", "id")
    for (cap <- Seq(1, 4, 13, 64, 1 << 20)) {
      val ranked = StarCap.rank(df, Seq(col("bucket")), col("id"))
      val cond = StarCap.cond(cap, col("x.id"), col("y.id"),
        col("x.rk"), col("y.rk"), col("x.bsz"))
      def pairs(y: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
        ranked.alias("x").join(y.alias("y"),
            col("x.bucket") === col("y.bucket") && cond)
          .select(col("x.bucket"),
            least(col("x.id"), col("y.id")).as("a"),
            greatest(col("x.id"), col("y.id")).as("b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val filtered = pairs(StarCap.ySide(ranked, cap))
      val unfiltered = pairs(ranked)
      assert(filtered == unfiltered,
        s"cap=$cap: ySide changed the pair set — " +
          s"missing=${unfiltered -- filtered}, extra=${filtered -- unfiltered}")
    }
  }

  test("StarCap property: random buckets — subset of all-pairs, min id fully linked, bounded") {
    import spark.implicits._
    import graft.ops.StarCap
    import org.apache.spark.sql.functions.{col, least, greatest}
    val rnd = new scala.util.Random(42)
    // random multiset of buckets with sizes straddling the cap
    val rows = (0 until 8).flatMap { b =>
      val n = 1 + rnd.nextInt(40)
      (0 until n).map(_ => (b.toLong, rnd.nextInt(10000).toLong))
    }.distinct
    val df = rows.toDF("bucket", "id")
    val cap = 6
    def pairs(c: Int): Set[(Long, Long, Long)] = {
      val ranked = StarCap.rank(df, Seq(col("bucket")), col("id"))
      ranked.alias("x").join(ranked.alias("y"),
          col("x.bucket") === col("y.bucket") &&
            StarCap.cond(c, col("x.id"), col("y.id"),
              col("x.rk"), col("y.rk"), col("x.bsz")))
        .select(col("x.bucket"),
          least(col("x.id"), col("y.id")).as("a"),
          greatest(col("x.id"), col("y.id")).as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val capped = pairs(cap)
    val full = pairs(1 << 20)
    assert(capped.subsetOf(full), "capped pairs must be a subset of all-pairs")
    assert(capped.map(p => (p._1, p._2, p._3)).size == capped.size) // no dupes by construction
    val byBucket = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    byBucket.foreach { case (bkt, ids) =>
      val n = ids.size
      val inBkt = capped.filter(_._1 == bkt)
      assert(inBkt.size <= (n.toLong * (n - 1)) / 2,
        s"bucket $bkt pair count ${inBkt.size} over the all-pairs bound")
      if (n > 1) {
        val m = ids.min
        assert(ids.filter(_ != m).forall(i => inBkt.contains((bkt, m, i))),
          s"bucket $bkt: min id $m not linked to every member")
      }
      if (n > cap) assert(inBkt.size <= n.toLong * cap,
        s"viral bucket $bkt exceeded |bucket|*cap")
    }
  }

  test("minhash viral family: band buckets star-cap, connectivity and keeper exact") {
    import spark.implicits._
    val n = 200
    val cap = 8
    val docs = (0L until n.toLong)
      .map(i => (i, "the same viral boilerplate text repeated across the minhash corpus"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairsDf(docs, maxBucket = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length <= n * cap,
      s"${pairs.length} pairs exceeds the n*cap=${n * cap} star-cap bound")
    assert(pairs.distinct.length == pairs.length, "duplicate pair emitted")
    // minhash pairs face no distance gate, so star edges always
    // survive: one component, keeper (min id) linked to everyone
    val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until n.toLong).map(find).toSet.size == 1, "family split into >1 component")
    // id-ascending ranks make the min id a representative in every
    // bucket: every doc pairs with doc 0 directly
    assert((1L until n.toLong).forall(i => pairs.contains((0L, i))),
      "min-id keeper must pair with every family member")
  }

  test("embdup viral family: centroid lists star-cap, semDedup keeps exactly the min id") {
    import spark.implicits._
    val n = 100
    val vec = Array.fill(8)(0.5)
    val emb = (0L until n.toLong).map(i => (i, vec)).toDF("vec_id", "e")
    val pairs = DedupOps.embdupLshPairs(spark, emb, maxBucket = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length <= n * 8,
      s"${pairs.length} pairs exceeds the n*cap=${n * 8} star-cap bound")
    assert(pairs.forall(_._3 == 1.0))
    assert(pairs.forall(p => p._1 < p._2), "pair ids must stay (lower, higher)")
    val survivors = DedupOps.semDedup(spark, emb, maxBucket = 8)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L),
      s"keep-first must keep exactly the min id under capping: $survivors")
  }

  test("simhash viral family: in-bucket pairs bounded by n*cap, family stays connected") {
    import spark.implicits._
    // 200 exact duplicates: identical simhashes, so every (band,chunk)
    // bucket is viral — uncapped this enumerates n(n-1)/2 = 19900 pairs
    val n = 200
    val cap = 8
    val docs = (0L until n.toLong)
      .map(i => (i, "the same viral boilerplate text repeated across the corpus again and again"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairsDf(docs, maxBucket = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length <= n * cap,
      s"${pairs.length} pairs exceeds the n*cap=${n * cap} star-cap bound")
    assert(pairs.length >= n - 1, s"only ${pairs.length} pairs: no spanning structure")
    assert(pairs.distinct.length == pairs.length, "duplicate pair emitted")
    // connected-component dedup over the capped output must still
    // group the whole family exactly as the full clique would
    val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until n.toLong).map(find).toSet.size == 1, "family split into >1 component")
  }

  test("simhash near-dup satellites of a viral family: capping never loses cross-band pairs") {
    import spark.implicits._
    // a 150-doc identical family makes every band's bucket viral at
    // cap 16; 10 near-copies (one word changed) land in the same or a
    // neighboring bucket depending on which bits flip. The old
    // first-shared-chunk dedup could suppress a satellite pair in
    // EVERY band once sub-splitting separated it in an earlier one;
    // with emitted-set dedup, any satellite the uncapped output
    // connects to the family must stay connected under capping.
    val famText = (0 until 60).map(k => s"vf_w$k").mkString(" ")
    val fam = (0L until 150L).map(i => (i, famText))
    val sats = (0 until 10).map(j => (1000L + j, famText.replace("vf_w0 ", s"chg$j ")))
    val docs = (fam ++ sats).toDF("doc_id", "text")
    def famLinks(cap: Int): Set[Long] =
      DedupOps.simhashPairsDf(docs, maxBucket = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .collect { case (a, b) if b >= 1000L && a < 150L => b }.toSet
    val uncapped = famLinks(1 << 20)
    val capped = famLinks(16)
    assert(uncapped.nonEmpty, "fixture produced no satellite links at all")
    // the design's ONLY sanctioned loss is the sub-split window: a
    // link may drop iff the satellite disagrees with the family on
    // the 8-bit next-chunk window in EVERY band whose chunk it
    // shares. Anything else lost = the cross-band suppression bug.
    val sig = DedupOps.simhashSigs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val famSig = sig(0L)
    def chunk(s: Long, b: Int) = (s >>> (16 * b)) & 0xffffL
    def sub(s: Long, b: Int) = (s >>> (16 * ((b + 1) % 4))) & 0xffL
    val sanctioned = (uncapped -- capped).filter { id =>
      val s = sig(id)
      (0 until 4).forall(b => chunk(s, b) != chunk(famSig, b) || sub(s, b) != sub(famSig, b))
    }
    assert((uncapped -- capped) == sanctioned,
      s"capping lost links NOT explained by sub-window disagreement: " +
        s"${(uncapped -- capped) -- sanctioned}")
  }

  test("simhash star-cap preserves connected components vs uncapped (random families)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // families of identical docs with per-family vocab; sizes straddle
    // the cap so some buckets star-cap and some stay all-pairs
    val docs = (0 until 6).flatMap { f =>
      val n = 1 + rnd.nextInt(60)
      val text = (0 until 15).map(k => s"fam${f}_w$k").mkString(" ")
      (0 until n).map(i => (f * 1000L + i, text))
    }.toDF("doc_id", "text")
    def components(cap: Int): Map[Long, Long] = {
      val pairs = DedupOps.simhashPairsDf(docs, maxBucket = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      ids.map(i => i -> find(i)).toMap
    }
    assert(components(8) == components(1 << 20),
      "capping changed the connected-component structure")
  }

  test("trained-centroid IVF top-k recall >= 0.8 vs exact brute force") {
    val exact = SparkEntry.queries("q_llm_simsearch")(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = SimilarityOps.ivfTopK(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"ivf recall $recall too low (${approx.size} approx rows)")
  }

  test("fingerprint expressions: equal text = equal fp, codegen matches interpreted") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "an entirely different document body here"),
      (4L, "")).toDF("id", "t")
      .select(col("id"), Fingerprints.text_fingerprint(col("t")).as("fp"),
        Fingerprints.winnow_fingerprint(col("t"), 16).as("wfp"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    // interpreted (eval) path must agree with the codegen path
    val fpInterp = graft.functions.TextFingerprint(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "the quick brown fox jumps over the lazy dog"))).eval(null)
    assert(fpInterp == rows(1L)._1)
  }

  test("fingerprints of the documents table are stable keys for exact dedup") {
    // the declared query now oracles the planted-copy invariant; the
    // raw per-doc fingerprints still come from the direct expression
    val inv = SparkEntry.queries("q_llm_fingerprint")(spark, TestSpark.sf).collect()
    assert(inv.length == 50 && inv.forall(r => r.getBoolean(1) && r.getBoolean(2)),
      "planted-copy fingerprint invariant rows not all true")
    val df = Tables(spark, TestSpark.sf, "documents").select(col("doc_id"),
      Fingerprints.text_fingerprint(lower(trim(col("text")))).as("fp"))
    val byFp = df.groupBy(col("fp")).count()
    // every doc got a fingerprint; count preserved
    assert(byFp.agg(sum(col("count"))).collect()(0).getLong(0) ==
      Tables(spark, TestSpark.sf, "documents").count())
  }

  test("duplicate clustering groups transitive chains under one canonical id") {
    import spark.implicits._
    // chain: 1-2, 2-3, 3-4 plus isolated pair 10-11 → components {1,2,3,4}, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val groups = DedupOps.duplicateGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(groups(_) == 1L))
    assert(Seq(10L, 11L).forall(groups(_) == 10L))
  }

  test("duplicate clustering converges on deep chains via pointer jumping") {
    import spark.implicits._
    // a 200-node path: one-hop min propagation needs ~200 rounds, so a
    // 10-round budget proves pointer doubling is doing the work
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val groups = DedupOps.duplicateGroups(pairs, maxRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.size == 200 && groups.values.forall(_ == 0L))
    // and cap exhaustion fails loudly instead of returning a partial
    // clustering as if it had converged
    assertThrows[IllegalStateException] {
      DedupOps.duplicateGroups(pairs, maxRounds = 1).collect()
    }
  }

  test("multimodal mapPartitions features are deterministic and complete") {
    val a = SparkEntry.queries("q_llm_mmfeatures")(spark, TestSpark.sf).collect()
    val b = SparkEntry.queries("q_llm_mmfeatures")(spark, TestSpark.sf).collect()
    assert(a.length == Tables(spark, TestSpark.sf, "documents").count())
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.foreach { r =>
      val n = r.getAs[Long]("n_bytes")
      val mn = r.getAs[Double]("min_byte")
      val mx = r.getAs[Double]("max_byte")
      val mean = r.getAs[Double]("mean_byte")
      assert(n > 0 && mn <= mean && mean <= mx)
    }
  }
}
