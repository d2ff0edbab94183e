package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up a `local[4]` session configured like
  * `graft.Bench`, run one workload's first pass and then timed passes in a
  * closed loop on one driver thread, check outputs, and write the
  * measurements to `--out` as one JSON object (`perfbench/run.py` turns
  * them into the printed result).
  *
  * Flags: `--workload W --seed N --seconds S --trace 0|1 --sf DIR
  * --state DIR --out FILE --check-dir DIR`, and for `retail_cli` also
  * `--csv FILE --truth-customers N --truth-frequency F --truth-monetary M`.
  * `--workload setup` only starts the session (set-up time probes).
  */
object Main {

  /** Untimed passes between the first pass and the timed ones. */
  val WarmupPasses = 1

  final case class OpRec(id: Int, pass: Int, name: String, startMs: Long, endMs: Long,
                         buildEndMs: Long, buildS: Double, actionS: Double)

  final case class PassRec(idx: Int, startMs: Long, endMs: Long, wallS: Double, cpuS: Double, gcS: Double,
                           cacheMb: Double, cacheRdds: Int, staging: Map[String, Double],
                           extra: Map[String, Double])

  /** Everything a workload needs to run and record its ops. */
  final class Ctx(val spark: SparkSession, val args: Map[String, String], val seed: Long) {
    val sf: String = args("sf")
    val state: File = new File(args("state"))
    val rng = new scala.util.Random(seed)
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val failedOps = mutable.Set.empty[Int]
    val errors = mutable.ArrayBuffer.empty[String]
    var pass = 0
    private var nextId = 0

    /** Run one op: `build` is the entry-point call (eager Spark jobs
      * included), `action` forces its result. Returns the built value, or
      * None when either part threw; a throw counts as a failed op. */
    def op[A](name: String)(build: => A)(action: A => Unit): Option[A] = {
      val id = nextId
      nextId += 1
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.OpProp, id.toString)
      sc.setLocalProperty(Trace.PhaseProp, "build")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var tb = 0L
      var buildEndMs = 0L
      var out: Option[A] = None
      try {
        val a = build
        tb = System.nanoTime()
        buildEndMs = System.currentTimeMillis()
        sc.setLocalProperty(Trace.PhaseProp, "action")
        action(a)
        out = Some(a)
      } catch {
        case e: Exception =>
          if (tb == 0L) { tb = System.nanoTime(); buildEndMs = System.currentTimeMillis() }
          failedOps += id
          errors += s"pass $pass $name: ${e.getClass.getName}: ${e.getMessage}".take(400)
          System.err.println(s"[perfbench] ${errors.last}")
      } finally {
        sc.setLocalProperty(Trace.OpProp, null)
        sc.setLocalProperty(Trace.PhaseProp, null)
      }
      val t1 = System.nanoTime()
      ops += OpRec(id, pass, name, startMs, System.currentTimeMillis(), buildEndMs,
        (tb - t0) / 1e9, (t1 - tb) / 1e9)
      out
    }

    /** An op that is all action: an entry point that runs its own jobs
      * and returns a result rather than a frame to force. */
    def call[A](name: String)(body: => A): Option[A] = {
      var result: Option[A] = None
      op(name)(())(_ => result = Some(body))
      result
    }

    /** Mark the latest execution of op `name` in the current pass failed;
      * `name` = None marks every op of the pass. */
    def fail(name: Option[String], why: String): Unit = {
      failedOps ++= ops.filter(o => o.pass == pass && name.forall(_ == o.name)).map(_.id)
      errors += s"pass $pass ${name.getOrElse("*")}: check failed: $why".take(400)
      System.err.println(s"[perfbench] ${errors.last}")
    }
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def startSession(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.MaterializeHofDependencies
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies :+ graft.plans.GraftStrategies
    spark
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** (path → (size, mtime)) of every file under `root`. */
  def snapshot(root: File): Map[String, (Long, Long)] =
    if (!root.exists()) Map.empty
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map { p =>
        val f = p.toFile
        p.toString -> (f.length(), f.lastModified())
      }.toMap

  def stagingDiff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Map[String, Double] = {
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    val removed = before.keySet -- after.keySet
    Map(
      "bytes_written_mb" -> written.values.map(_._1).sum / 1e6,
      "files_written" -> written.size.toDouble,
      "files_removed" -> removed.size.toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val workloadName = args("workload")
    val state = new File(args("state"))
    val local = new File(state, "spark-local")
    local.mkdirs()
    val spark = startSession(local.toString)
    val readyMs = System.currentTimeMillis()
    val out = Paths.get(args("out"))
    if (workloadName == "setup") {
      Files.writeString(out, Json.render(Map("ready_ms" -> readyMs)))
      spark.stop()
      return
    }
    val traced = args.get("trace").contains("1")
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val ctx = new Ctx(spark, args, args("seed").toLong)
    val workload = Workloads.byName(workloadName, ctx)
    val seconds = args("seconds").toDouble
    val prepared = new File(sys.props("java.io.tmpdir"), "graft_prepared")

    val passes = mutable.ArrayBuffer.empty[PassRec]
    def runPass(): Unit = {
      val snap0 = if (traced) snapshot(prepared) else Map.empty[String, (Long, Long)]
      val cpu0 = processCpuS()
      val gc0 = gcS()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      workload.pass()
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val cpu = processCpuS() - cpu0
      val gc = gcS() - gc0
      val extra =
        try workload.afterPass()
        catch { case e: Exception => ctx.fail(None, e.toString); Map.empty[String, Double] }
      val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      val staging = if (traced) stagingDiff(snap0, snapshot(prepared)) else Map.empty[String, Double]
      passes += PassRec(ctx.pass, startMs, endMs, wall, cpu, gc, infos.map(_.memSize).sum / 1e6,
        infos.length, staging, extra)
      ctx.pass += 1
    }

    runPass() // first pass: cold JIT, first fit, staged-layout builds
    // untimed warm-up: the pass after the first still pays JIT tiering
    // and varies by ±10% between processes; the passes after it settle
    for (_ <- 1 to WarmupPasses) runPass()
    val loopStart = System.nanoTime()
    while (passes.size <= WarmupPasses + 1 || (System.nanoTime() - loopStart) / 1e9 < seconds)
      runPass()
    val checks = workload.finish()

    val layers = trace.map { t =>
      t.drain()
      Layers.compute(t, ctx, passes.toSeq)
    }
    val opsByLane = ctx.ops.groupBy(_.name)
    val result = Map(
      "ready_ms" -> readyMs,
      "first_pass_s" -> passes.head.wallS,
      "passes" -> passes.drop(WarmupPasses + 1).map(p =>
        Map("wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS)),
      "attempted" -> ctx.ops.size,
      "failed_ops" -> ctx.failedOps.size,
      "ok_runs" -> opsByLane.map { case (n, os) => n -> os.count(o => !ctx.failedOps(o.id)) },
      "errors" -> ctx.errors.take(20),
      "ops" -> ctx.ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "build_s" -> o.buildS,
        "action_s" -> o.actionS, "ok" -> !ctx.failedOps(o.id))),
      "checks" -> checks,
      "layers" -> layers.map(_.metrics),
      "lanes" -> layers.map(_.lanes),
      "spans" -> layers.map(_.spans))
    Files.writeString(out, Json.render(result))
    spark.stop()
  }
}
