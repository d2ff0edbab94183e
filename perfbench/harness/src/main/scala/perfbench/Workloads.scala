package perfbench

import java.io.File
import java.nio.file.Files

import graft.{GraftApp, SparkEntry}
import graft.operators.{Charts, Clustering}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A workload: one pass is its unit of work. `afterPass` and `finish`
  * run outside the timed window. */
trait Workload {
  def pass(): Unit
  /** Untimed per-pass checks; returns per-pass figures for the trace. */
  def afterPass(): Map[String, Double] = Map.empty
  /** Untimed end-of-run checks. */
  def finish(): Map[String, Any] = Map.empty
}

object Workloads {
  /** Lanes whose build (the lane-function call, eager Spark jobs
    * included) is most of lane time: driver-side construction lanes and
    * lanes that drive a Structured Streaming query to completion. */
  val EagerLanes: Seq[String] = Seq("q122", "q223", "q273", "q64", "q106", "q146")

  def byName(name: String, ctx: Main.Ctx): Workload = name match {
    case "retail_cli" => new RetailCli(ctx)
    case "eager_lanes" => new Lanes(ctx, EagerLanes)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's CLI run: CSV → RFM → seeded K-Means (k=4) → report →
  * two charts → one prediction. Checked against the generator's ground
  * truth on every pass. */
final class RetailCli(ctx: Main.Ctx) extends Workload {
  private val spark = ctx.spark
  private val csv = ctx.args("csv")
  private val truthCustomers = ctx.args("truth-customers").toLong
  private val truthFrequency = ctx.args("truth-frequency").toDouble
  private val truthMonetary = ctx.args("truth-monetary").toDouble
  private val chartBase = new File(new File(ctx.state, "charts"), "cluster_plot.png").toString
  new File(ctx.state, "charts").mkdirs()
  private val point = Array(ctx.rng.nextInt(365).toDouble, 1.0 + ctx.rng.nextInt(20),
    50.0 + ctx.rng.nextInt(5000))
  private var seg: Option[Clustering.Segmentation] = None
  private var firstFit: Option[(Int, Double)] = None
  private var firstPredict: Option[Int] = None

  def pass(): Unit = {
    seg = None
    for {
      rfm <- ctx.call("retail.load")(GraftApp.loadRfm(spark, csv))
      s <- ctx.call("clustering.fit")(Clustering.fit(rfm, 4, 300, 1e-4))
    } {
      seg = Some(s)
      ctx.call("clustering.report")(Clustering.clusterReport(s))
      ctx.call("charts.render")(Charts.visualizationReport(s, chartBase))
      ctx.call("clustering.predict")(Clustering.predictCluster(s, point)).foreach { c =>
        if (firstPredict.exists(_ != c))
          ctx.fail(Some("clustering.predict"), s"cluster $c differs from the first pass")
        firstPredict = Some(c)
      }
    }
  }

  override def afterPass(): Map[String, Double] = seg match {
    case None => Map.empty
    case Some(s) =>
      val p = s.predictions
      val row = p.agg(count(lit(1)), sum(col("frequency")), sum(col("monetary"))).head()
      val (n, freq, mon) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
      if (n != truthCustomers || freq != truthFrequency || mon != truthMonetary)
        ctx.fail(Some("retail.load"), s"RFM totals ($n, $freq, $mon) != ground truth " +
          s"($truthCustomers, $truthFrequency, $truthMonetary)")
      val sized = p.groupBy(col("prediction")).count().collect().map(_.getLong(1)).sum
      if (sized != n) ctx.fail(Some("clustering.fit"), s"cluster sizes sum to $sized, not $n")
      val iters = s.model.summary.numIter
      val fit = (iters, s.inertia)
      if (firstFit.exists(_ != fit))
        ctx.fail(Some("clustering.fit"), s"(iterations, inertia) $fit differs from first pass ${firstFit.get}")
      if (firstFit.isEmpty) firstFit = Some(fit)
      p.unpersist(blocking = true)
      Map("iters" -> iters.toDouble, "csv_bytes" -> new File(csv).length().toDouble)
  }

  override def finish(): Map[String, Any] =
    Map("iterations" -> firstFit.map(_._1), "inertia" -> firstFit.map(_._2))
}

/** Contract lanes by `SparkEntry.queries`, each forced through the `noop`
  * sink as `graft.Bench` does; lane order within a pass is seeded. After
  * the timed passes each lane's output is written to `--check-dir` for
  * the digest check. */
final class Lanes(ctx: Main.Ctx, prefixes: Seq[String]) extends Workload {
  private val spark = ctx.spark
  private val queries = SparkEntry.queries
  private val lanes: Seq[String] = prefixes.map { p =>
    queries.keys.find(_.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no lane $p in SparkEntry.queries"))
  }
  private var last = Map.empty[String, DataFrame]

  def pass(): Unit = {
    last = ctx.rng.shuffle(lanes).flatMap { name =>
      ctx.op(name)(queries(name)(spark, ctx.sf)) { df =>
        df.write.format("noop").mode("overwrite").save()
      }.map(name -> _)
    }.toMap
  }

  override def finish(): Map[String, Any] = {
    val dir = new File(ctx.args("check-dir"))
    dir.mkdirs()
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => lanes.contains(n) }
    Files.writeString(new File(dir, "oracle_sql.json").toPath, Json.render(oracles))
    val unwritten = lanes.filterNot { name =>
      def write(df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(new File(dir, name).toString)
      try { write(last.getOrElse(name, queries(name)(spark, ctx.sf))); true }
      catch {
        case _: Exception =>
          try { write(queries(name)(spark, ctx.sf)); true }
          catch {
            case e: Exception =>
              ctx.errors += s"$name: output not written: ${e.getMessage}".take(400)
              false
          }
      }
    }
    Map("lanes" -> lanes, "unwritten" -> unwritten)
  }
}
