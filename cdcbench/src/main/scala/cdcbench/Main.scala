package cdcbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured: timing samples, scalar values, the counts that
  * must repeat for the same code and seed, and the operation tally. */
final class Record {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val counts = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def set(k: String, v: Any): Unit = values(k) = v

  /** Runs one engine operation; an exception counts it as failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        fail(s"$what: $e")
        None
    }
  }

  /** One correctness check, counted as an operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val problem = try { if (ok) None else Some("mismatch") }
      catch { case e: Exception => Some(e.toString) }
    problem.foreach(p => fail(s"$what: $p"))
  }

  def fail(msg: String): Unit = { failed += 1; failures += msg }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     seconds: Double, cores: Int)

/** A workload. `warmUp` makes the workload's engine calls on a small input
  * generated from the seed (the repeated set-up), `prepare` generates the
  * timed input from the seed, `run` is the timed closed loop, and `check`
  * compares the outputs with the oracles, outside the timed window. */
trait Workload {
  /** Session confs this workload sets over [[Session.conf]]. */
  def sessionConf(cores: Int): Map[String, String] = Map.empty
  def warmUp(ctx: Ctx, dir: Path): Unit
  def prepare(ctx: Ctx, dir: Path): Unit
  def run(ctx: Ctx, rec: Record): Unit
  def check(ctx: Ctx, rec: Record): Unit
}

/** The benchmark JVM. Writes the raw record of one run as JSON; the
  * launcher (`run.py`) turns it into metrics.
  *
  * argv: workload seed seconds trace(0|1) cores scratchDir outFile */
object Main {
  /** Set-up (a fresh session and the warm-up calls) is repeated and its
    * median reported, so set-up time is a steady metric; the last
    * repetition's session is the measured one. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, coresS, scratchS, out) = args
    val seed = seedS.toLong
    val cores = coresS.toInt
    val trace = traceS == "1"
    val scratch = Paths.get(scratchS)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime / 1e3
    val workload: Workload = name match {
      case "pipeline" => new PipelineWorkload
      case "serve" => new Serve
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Record
    val conf = Session.conf(cores, scratch) ++ workload.sessionConf(cores)

    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until SetupReps) {
      val t0 = Clock.now()
      if (spark != null) spark.stop()
      spark = Session.build(conf)
      val ctx = Ctx(spark, new Tracer(spark.sparkContext, false, ""),
        seed, secondsS.toDouble, cores)
      val dir = scratch.resolve(s"warm$rep")
      workload.warmUp(ctx, dir)
      setupS += Clock.now() - t0
      if (rep == 0) rec.set("setup_first_s", Clock.now() - jvmStart)
      Session.deleteTree(dir)
    }
    rec.set("setup_reps_s", setupS.toSeq)
    // tracing starts after set-up: the listener sees no warm-up event
    val log = new StageLog
    if (trace) {
      org.apache.spark.BenchSparkAccess.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(log)
    }
    val ctx = Ctx(spark, new Tracer(spark.sparkContext, trace, s"$name-$seed"),
      seed, secondsS.toDouble, cores)
    val tg = Clock.now()
    workload.prepare(ctx, scratch.resolve("input"))
    rec.set("input_gen_s", Clock.now() - tg)

    val controlBefore = Control.timeOnce()
    workload.run(ctx, rec)
    val controlAfter = Control.timeOnce()
    rec.set("control_s", Seq(controlBefore, controlAfter))
    rec.set("peak_rss_mb", Session.peakRssMb())
    workload.check(ctx, rec)

    if (trace) org.apache.spark.BenchSparkAccess.drain(spark.sparkContext)
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> secondsS.toDouble,
      "trace" -> trace, "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "spark_conf" -> conf,
      "samples" -> rec.samples, "values" -> rec.values,
      "counts" -> rec.counts,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures)
    if (trace) {
      doc("spans") = ctx.tracer.records
      doc("jobs") = log.jobRecords
      doc("stages") = log.stageRecords
    }
    spark.stop()
    Files.write(Paths.get(out), new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsBytes(doc))
  }
}

/** Fixed CPU-only control computation: SHA-256 over a fixed buffer on one
  * thread. Timed in the same window as the workload, as a host-noise
  * reference; it is reported, never gated. */
object Control {
  def timeOnce(): Double = {
    val buf = Array.tabulate[Byte](1 << 16)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 4096) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }
}

object Session {
  /** Every Spark conf the benchmark sets; all of them go into the result. */
  def conf(cores: Int, scratch: Path): Map[String, String] =
    graft.lake.FastLocalFs.sparkConf ++ Map(
    "spark.master" -> s"local[$cores]",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> scratch.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> scratch.resolve("warehouse").toString,
    // the merge aggregate's shuffle then places every row in the partition
    // whose id equals its bucket (source tables use 4 * cores buckets)
    "spark.sql.shuffle.partitions" -> (4 * cores).toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      (4 * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> "32m")

  def build(conf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder().appName("cdcbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** Bytes of the files a commit added (in `after`, not in `before`). */
  def addedBytes(before: Option[graft.lake.Manifest],
                 after: graft.lake.Manifest): Long = {
    val old = before.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    after.files.filterNot(f => old.contains(f.path)).map(_.bytes).sum
  }
}
