package graft.ops

import graft.{Decl, Pack, Tables}
import org.apache.spark.sql.functions._

/** Multimodal column operators: binary payloads with typed metadata,
  * feature extraction through a typed `mapPartitions` (the batch
  * shape a real decoder plugs into; the codecs are deterministic
  * stand-ins, since no image/audio library ships here), resizing and
  * frame sampling.
  */
object MultimodalOps extends Pack {

  def decls: Seq[Decl] = Seq(

    // Multimodal column: opaque binary payload + typed metadata struct,
    // exercised through an encode→store→decode round trip. The decode
    // step for real image/audio bytes would be a mapInPandas/Arrow UDF
    // on a cluster with codec libs; here the payload is the utf-8 text
    // itself (deterministic stand-in), the plumbing is real.
    Decl("q_llm_multimodal", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("meta", map(
          lit("lang"), col("lang"), lit("source"), col("source")))
        .withColumn("asset", struct(col("doc_id"), col("payload"), col("meta")))
        .select(
          col("doc_id"),
          length(col("asset.payload")).as("payload_bytes"),
          (decode(col("asset.payload"), "UTF-8") === col("text")).as("roundtrip_ok"),
          element_at(col("asset.meta"), "lang").as("meta_lang"))
        .orderBy(col("doc_id").asc_nulls_first, col("payload_bytes").asc_nulls_first),
      // every projected column IS oracle-expressible (the fixture text
      // is ASCII, so UTF-8 payload bytes = text length; the oracle's
      // literal TRUE asserts the Spark-side decode really round-trips)
      Some(
        """SELECT doc_id, CAST(length(text) AS INTEGER) AS payload_bytes,
          |  TRUE AS roundtrip_ok, lang AS meta_lang
          |FROM documents
          |ORDER BY doc_id ASC NULLS FIRST, payload_bytes ASC NULLS FIRST""".stripMargin)),

    // Multimodal feature extraction: binary payloads through a typed
    // mapPartitions (the batch shape a real decoder plugs into; the
    // codec itself is a deterministic stand-in — this container has no
    // image/audio libs). Output is scalar columns (the feature vector's
    // moments) so the driver's pandas-based checker can sort and hash
    // it; the fixture text is ASCII so the DuckDB oracle recomputes the
    // byte moments from character codes.
    Decl("q_llm_mmfeatures", (spark, dir) => {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            // stubbed "decode + featurize": deterministic moments of
            // the byte stream standing in for a real embedding
            val n = payload.length.max(1)
            val codes = payload.map(_.toInt & 0xff)
            // Long sum (an Int sum overflows past ~8.4 MB of high
            // bytes); round exactly like the oracle's ROUND(x, 6) —
            // same double product, half-up on positive values
            val sum = codes.foldLeft(0L)(_ + _)
            val mean = Math.round(sum.toDouble / n * 1e6).toDouble / 1e6
            val mx = if (payload.isEmpty) 0.0 else codes.max.toDouble
            val mn = if (payload.isEmpty) 0.0 else codes.min.toDouble
            (id, payload.length.toLong, mean, mn, mx)
          }
        }
        .toDF("doc_id", "n_bytes", "mean_byte", "min_byte", "max_byte")
        .orderBy(col("doc_id").asc_nulls_first, col("n_bytes").asc_nulls_first)
    }, Some(
      """SELECT doc_id, length(text) AS n_bytes,
        |  ROUND(CAST(list_sum(codes) AS DOUBLE) / GREATEST(len(codes), 1), 6) AS mean_byte,
        |  CAST(list_min(codes) AS DOUBLE) AS min_byte,
        |  CAST(list_max(codes) AS DOUBLE) AS max_byte
        |FROM (SELECT doc_id, text,
        |        list_transform(range(1, length(text) + 1),
        |          i -> unicode(substr(text, i, 1))) AS codes
        |      FROM documents)
        |ORDER BY doc_id ASC NULLS FIRST, n_bytes ASC NULLS FIRST""".stripMargin)),

    // Multimodal RESIZE plumbing: binary payloads through the typed
    // mapPartitions batch shape a real image decoder plugs into (this
    // container has no image libs — the "resize" is a deterministic
    // 16-point grid subsample of the byte stream, so the oracle can
    // recompute it). What's real and under test: the schema, the
    // executor-side batch iteration, and the byte indexing arithmetic.
    Decl("q_llm_mmresize", (spark, dir) => {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, p) =>
            val n = p.length
            val out = if (n == 0) Array.empty[Byte]
              else Array.tabulate(16)(i => p((i.toLong * n / 16).toInt))
            val sum = out.foldLeft(0L)((a, b) => a + (b.toInt & 0xff))
            (id, n.toLong, out.length.toLong, sum)
          }
        }
        .toDF("doc_id", "orig_bytes", "resized_px", "resized_sum")
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """SELECT doc_id, length(text) AS orig_bytes,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE 16 END AS resized_px,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    CAST(list_sum(list_transform(range(0, 16),
        |      i -> unicode(substr(text, 1 + (i * length(text)) // 16, 1)))) AS BIGINT)
        |  END AS resized_sum
        |FROM documents
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Multimodal FRAME-SAMPLE plumbing: the payload read as 8-byte
    // "frames", keeping every 4th — the video-ingest batch shape
    // (decode → stride-sample → featurize downstream). The stub keeps
    // each sampled frame's first byte; the checksum proves the stride
    // arithmetic frame-exactly on both engines.
    Decl("q_llm_mmframes", (spark, dir) => {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, p) =>
            val nFrames = p.length / 8
            val nSampled = (nFrames + 3) / 4
            var sum = 0L
            var j = 0
            while (j < nSampled) { sum += (p(j * 32).toInt & 0xff); j += 1 }
            (id, nFrames.toLong, nSampled.toLong, sum)
          }
        }
        .toDF("doc_id", "n_frames", "n_sampled", "sampled_sum")
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """SELECT doc_id, length(text) // 8 AS n_frames,
        |  (length(text) // 8 + 3) // 4 AS n_sampled,
        |  CASE WHEN length(text) // 8 = 0 THEN 0 ELSE
        |    CAST(list_sum(list_transform(range(0, (length(text) // 8 + 3) // 4),
        |      j -> unicode(substr(text, 1 + j * 32, 1)))) AS BIGINT)
        |  END AS sampled_sum
        |FROM documents
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

  )
}
