package graft

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The session hygiene of the declared streaming replays: the confs a
  * replay sets are scoped to it ([[Dsl.withConf]]), and the join
  * replay's state partition count is the constant it documents. */
class StreamOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("withConf restores set keys, unsets keys that were unset, and restores on a throw") {
    val set = "spark.graft.test.scoped.set"
    val unset = "spark.graft.test.scoped.unset"
    spark.conf.set(set, "before")
    spark.conf.unset(unset)
    try {
      val seen = Dsl.withConf(spark, set -> "inside", unset -> "inside") {
        (spark.conf.get(set), spark.conf.get(unset))
      }
      assert(seen == ("inside", "inside"))
      assert(spark.conf.get(set) == "before")
      assert(!spark.conf.getAll.contains(unset), "an unset key must be restored as unset")
      intercept[IllegalStateException](Dsl.withConf(spark, set -> "thrown") {
        throw new IllegalStateException("boom")
      })
      assert(spark.conf.get(set) == "before")
    } finally spark.conf.unset(set)
  }

  test("q_str_joinstream runs its stateful stages on 2 partitions and leaves shuffle partitions as it found them") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val partitions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => partitions.add(op.numShufflePartitions.toInt))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val rows = ops.StreamOps.decls.find(_.name == "q_str_joinstream").get
        .fn(spark, TestSpark.sf).collect()
      assert(rows.nonEmpty)
      // progress events reach listeners asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (partitions.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!partitions.isEmpty, "no state operator progress was reported")
      import scala.jdk.CollectionConverters._
      assert(partitions.asScala.forall(_ == 2), s"state partitions: $partitions")
    } finally spark.streams.removeListener(listener)
    assert(spark.conf.get(key) == before)
  }
}
