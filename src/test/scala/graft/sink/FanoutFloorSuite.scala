package graft.sink

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the fan-out write floor plumbing: the scoped AQE
  * min-partition-size override applies inside the write body and is
  * restored afterwards — exactly, including restore-to-unset, the state
  * every fresh session starts in — and overlapping writes on one session
  * keep it until the last of them finishes.
  */
class FanoutFloorSuite extends AnyFunSuite {
  private val Key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("floor applies inside the body and restores the effective value") {
    val spark = TestSpark.spark
    spark.conf.unset(Key)
    // note: get on a registered conf returns its DEFAULT ("1048576b")
    // even when unset, so "prior value" below is the default
    val prior = spark.conf.get(Key)
    var inside: Option[String] = None
    IceTableWriter.withFanoutCoalesceFloor(spark) {
      inside = spark.conf.getOption(Key)
    }
    assert(inside === Some(IceTableWriter.FanoutMinPartitionSize))
    assert(spark.conf.get(Key) === prior, "restore must preserve the effective value")
  }

  test("floor restores a previously set conf and honors the graft override") {
    val spark = TestSpark.spark
    spark.conf.set(Key, "2MB")
    try {
      var inside: Option[String] = None
      IceTableWriter.withFanoutCoalesceFloor(spark) {
        inside = spark.conf.getOption(Key)
      }
      assert(inside === Some(IceTableWriter.FanoutMinPartitionSize),
        "graft's fan-out floor overrides the previously set value inside the write")
      assert(spark.conf.get(Key) === "2MB", "prior value must be restored")
    } finally spark.conf.unset(Key)
  }

  test("overlapping fan-out writes on two threads hold the floor until both finish") {
    val spark = TestSpark.spark
    spark.conf.set(Key, "2MB")
    try {
      val firstIn, secondIn, firstOut, secondOut = new java.util.concurrent.CountDownLatch(1)
      def await(l: java.util.concurrent.CountDownLatch): Unit =
        assert(l.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // first write enters, second enters, first leaves while the second
      // still runs, then the second leaves
      val first = new Thread(() => IceTableWriter.withFanoutCoalesceFloor(spark) {
        firstIn.countDown(); await(firstOut)
      })
      val second = new Thread(() => IceTableWriter.withFanoutCoalesceFloor(spark) {
        secondIn.countDown(); await(secondOut)
      })
      first.start(); await(firstIn)
      second.start(); await(secondIn)
      assert(spark.conf.get(Key) === IceTableWriter.FanoutMinPartitionSize)
      firstOut.countDown(); first.join()
      assert(spark.conf.get(Key) === IceTableWriter.FanoutMinPartitionSize,
        "the second write still runs: the floor must hold")
      secondOut.countDown(); second.join()
      assert(spark.conf.get(Key) === "2MB", "the value from before both writes must be restored")
    } finally spark.conf.unset(Key)
  }

  test("an unset floor key is unset again after the write") {
    val spark = TestSpark.spark
    spark.conf.unset(Key)
    IceTableWriter.withFanoutCoalesceFloor(spark)(())
    assert(spark.conf.getAll.get(Key) === None)
  }

  test("floor is restored when the body throws") {
    val spark = TestSpark.spark
    spark.conf.unset(Key)
    val prior = spark.conf.get(Key)
    intercept[RuntimeException] {
      IceTableWriter.withFanoutCoalesceFloor(spark)(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(Key) === prior)
  }
}
