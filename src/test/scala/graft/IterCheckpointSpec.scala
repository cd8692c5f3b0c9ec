package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Block-loss recovery for the reliable-checkpoint iteration path
  * ([[graft.ops.IterCheckpoint]]): the 100-TB claim is that with
  * `graft.iter.checkpoint-dir` set, iteration state survives executor
  * loss because each round's frame is re-READABLE from durable
  * checkpoint files — not merely that files get written (what
  * Llm2Spec already pins). Two attacks:
  *
  *  1. deterministic: checkpoint a frame, then destroy BOTH its
  *     lineage source (delete the parquet it scanned) and every
  *     persisted block (executor-loss analog) — evaluation must still
  *     return the original rows, which is only possible from the
  *     checkpoint files;
  *  2. chaos: while duplicateGroups runs a 200-node chain, a
  *     background thread unpersists every persistent RDD as fast as
  *     it appears — the run must complete with the exact closure.
  */
class IterCheckpointSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withCkptDir[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_iter_loss").toString
    spark.conf.set("graft.iter.checkpoint-dir", dir)
    try body(dir)
    finally {
      spark.conf.unset("graft.iter.checkpoint-dir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("checkpointed frame survives loss of its source AND all persisted blocks") {
    import spark.implicits._
    withCkptDir { _ =>
      val src = java.nio.file.Files.createTempDirectory("graft_iter_src").toString
      (0L until 1000L).map(i => (i, s"row$i")).toDF("id", "s")
        .repartition(4).write.mode("overwrite").parquet(src)
      val cp = graft.ops.IterCheckpoint(spark.read.parquet(src))
      // executor-loss analog: drop every block the block manager holds
      // for persisted RDDs (the scratch persist is already released by
      // IterCheckpoint itself; this catches anything that remains)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // and lineage loss: the scanned parquet is gone for good
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
      assert(!new java.io.File(src).exists())
      val rows = cp.orderBy(col("id")).collect()
      assert(rows.length == 1000 && rows(0) == Row(0L, "row0") &&
        rows(999) == Row(999L, "row999"),
        "evaluation after source+block loss must come from checkpoint files")
      // a second action still works (files, not a one-shot cache)
      assert(cp.count() == 1000L)
    }
  }

  test("localCheckpoint control: the same loss is fatal without a checkpoint dir") {
    // negative control — proves attack 1 actually destroys lineage:
    // on the default localCheckpoint path the persisted blocks ARE the
    // only copy, so unpersisting them after source deletion must fail
    // the query instead of silently recomputing from anywhere.
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_iter_src2").toString
    (0L until 100L).toDF("id").repartition(2).write.mode("overwrite").parquet(src)
    val cp = graft.ops.IterCheckpoint(spark.read.parquet(src))
    assert(cp.count() == 100L)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    intercept[Throwable] {
      cp.orderBy(col("id")).collect()
    }
  }

  test("duplicateGroups completes exactly under continuous block loss") {
    import spark.implicits._
    withCkptDir { _ =>
      val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val chaos = new Thread(() => {
        while (!stop.get()) {
          try spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          catch { case _: Throwable => }
          Thread.sleep(10)
        }
      })
      chaos.setDaemon(true)
      chaos.start()
      try {
        val groups = graft.ops.DedupOps.duplicateGroups(pairs, maxRounds = 10)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(groups.size == 200 && groups.values.forall(_ == 0L),
          "closure under block loss must equal the undisturbed closure")
      } finally {
        stop.set(true)
        chaos.join()
      }
    }
  }
}
