package graft

import graft.operators.{Clustering, Retail}
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CLI's load → fit path reads the retail CSV once: `GraftApp.loadRfm`
  * materializes the RFM table (the reference `.collect()`s it,
  * `src/data.rs:184`) and `Clustering.fit` takes its row count from the
  * scaler aggregate. Materializing must not move a single bit of the fit. */
class LoadRfmSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  /** A few thousand rows in the reference's Online-Retail shape, with the
    * dirt cleaning drops: C-prefixed cancellations with negative
    * quantities, zero prices and missing customer ids. */
  private lazy val csvPath: String = {
    val rng = new scala.util.Random(11)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")
    val start = java.time.LocalDateTime.of(2010, 12, 1, 8, 0)
    val sb = new StringBuilder(
      "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n")
    var rows = 0
    var invoice = 536365
    while (rows < 3000) {
      val cancelled = rng.nextInt(50) == 0
      val customer = if (rng.nextInt(100) == 0) "" else (12000 + rng.nextInt(240)).toString
      val date = start.plusMinutes(rng.nextInt(370 * 24 * 60).toLong).format(fmt)
      (1 to 1 + rng.nextInt(6)).foreach { line =>
        val qty = (1 + rng.nextInt(24)) * (if (cancelled) -1 else 1)
        val price = if (rng.nextInt(100) == 0) 0.0 else 0.25 * (1 + rng.nextInt(80))
        sb.append(s"${if (cancelled) "C" else ""}$invoice,${20000 + line},ITEM $line,")
          .append(s"$qty,$date,$price,$customer,United Kingdom\n")
        rows += 1
      }
      invoice += 1
    }
    val f = Files.createTempFile("retail_rfm", ".csv")
    Files.writeString(f, sb.toString)
    f.toString
  }

  /** Sums task `inputMetrics.bytesRead` over the stages that scan a file
    * (a `FileScanRDD` in the stage's lineage). Tasks that read cached or
    * checkpointed blocks report those block sizes as input bytes too; the
    * stage filter keeps them out, so the sum is file bytes only. */
  private final class ScanBytes extends SparkListener {
    private val scanStages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
        scanStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (scanStages.contains(e.stageId) && e.taskMetrics != null)
        bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
  }

  test("loadRfm + fit read the CSV's bytes once (four times before " +
    "loadRfm materialized)") {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val scan = new ScanBytes
    sc.addSparkListener(scan)
    try {
      val seg = Clustering.fit(GraftApp.loadRfm(spark, csvPath), k = 4)
      seg.predictions.unpersist()
      ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(scan)
    val ratio = scan.bytes.get.toDouble / new java.io.File(csvPath).length
    assert(ratio >= 0.9 && ratio <= 1.1, s"CSV read $ratio times")
  }

  test("a fit on loadRfm's materialized table is bit-identical to a fit on " +
    "the lazy CSV lineage") {
    val lazyRfm = Retail.loadAndProcess(spark, csvPath)
      .withColumnRenamed("CustomerID", "custkey")
    val eager = Clustering.fit(GraftApp.loadRfm(spark, csvPath), k = 4)
    val lzy = Clustering.fit(lazyRfm, k = 4)
    try {
      assert(eager.model.clusterCenters.map(_.toArray.toSeq).toSeq ==
        lzy.model.clusterCenters.map(_.toArray.toSeq).toSeq)
      assert(eager.inertia == lzy.inertia)
      assert(eager.model.summary.numIter == lzy.model.summary.numIter)
      def labels(s: Clustering.Segmentation) = s.predictions
        .select(col("custkey"), col("prediction")).orderBy(col("custkey"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(labels(eager) == labels(lzy))
      // μ/σ equal the separate six-column aggregate the scaler used to run
      val old = lazyRfm.agg(
        avg("recency"), greatest(stddev_pop("recency"), lit(1e-8)),
        avg("frequency"), greatest(stddev_pop("frequency"), lit(1e-8)),
        avg("monetary"), greatest(stddev_pop("monetary"), lit(1e-8))).head()
      val oldMu = Seq(old.getDouble(0), old.getDouble(2), old.getDouble(4))
      val oldSd = Seq(old.getDouble(1), old.getDouble(3), old.getDouble(5))
      Seq(eager, lzy).foreach { s =>
        assert(s.scaler.mu.toSeq == oldMu)
        assert(s.scaler.sd.toSeq == oldSd)
      }
      val (_, standardized) = Clustering.standardize(lazyRfm)
      assert(standardized.mu.toSeq == oldMu && standardized.sd.toSeq == oldSd)
    } finally Seq(eager, lzy).foreach(_.predictions.unpersist())
  }

  test("loadRfm still rejects a CSV whose every row is filtered") {
    val f = Files.createTempFile("retail_empty", ".csv")
    Files.writeString(f,
      """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
        |C1,X,CANCELLED,-1,12/01/2010 08:26:00,2.55,17850,UK
        |2,Y,FREE,3,12/01/2010 08:27:00,0.0,17850,UK
        |3,Z,NO CUSTOMER,3,12/01/2010 08:28:00,1.25,,UK
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](GraftApp.loadRfm(spark, f.toString))
    assert(e.getMessage.contains("No valid data after RFM aggregation"))
  }
}
