package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persist policy of the iterative fits
  * ([[graft.stats.DesignCells.persistUnlessCollapsed]]): the slice is cached
  * only on the row path, where every iteration re-reads it. On the cells
  * path the input is read once, so a cache would be pure cost. Counted as
  * RDD blocks stored while one fit runs. */
class FitPersistSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def frame() = (0 until 240).map { i =>
    val r = (i * 37 + (i * i) % 101) % 10
    val y = if (r < 2 + (i % 5)) 1.0 else if (r < 5) 2.0 else 3.0
    (1.0 + (i % 7).toDouble, if (i % 3 == 0) 0 else 1, (i % 5).toDouble,
      ((i / 4) % 2).toDouble, y, if (y > 1.0) 1.0 else 0.0)
  }.toDF("t", "d", "x1", "x2", "y", "lbl")

  /** RDD blocks stored while `fit` runs, read after the listener bus has
    * delivered every event of the fit's jobs. */
  private def cachedBlocks(fit: => Any): Int = {
    val blocks = new AtomicInteger
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid) blocks.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { JobCount.during(spark)(fit); blocks.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private val xs = Seq(col("x1"), col("x2"))
  private val names = Seq("x1", "x2")
  private val fits: Seq[(String, Int => Any)] = Seq(
    "logistic" -> (mc => ops.MlWrappers.logisticIrls(frame(), col("lbl"), xs, maxCells = mc)),
    "ordinal" -> (mc => ops.Ordinal.ordinalLogit(frame(), col("y"), xs, names, maxCells = mc)),
    "multinomial" ->
      (mc => ops.Multinomial.multinomialLogit(frame(), col("y"), xs, names, maxCells = mc)),
    "aft" -> (mc => ops.Aft.aftFit(frame(), col("t"), col("d"), xs, names, maxCells = mc)))

  for ((family, fit) <- fits)
    test(s"$family: no cache on the cells path, a cache on the row path") {
      assert(cachedBlocks(fit(4096)) == 0)
      assert(cachedBlocks(fit(0)) > 0)
    }
}
