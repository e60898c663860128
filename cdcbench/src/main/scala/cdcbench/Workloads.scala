package cdcbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.engine.Pipeline
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.{LakeTable, Maintenance, Manifest, MergeUpsert}
import graft.oracle.{DomainOracle, FoldOracle}
import graft.streaming.ChangeFeed

/** Input generation, traced calls into the lake layer, and the fold
  * oracle — shared by the CDC workloads. */
object Cdc {
  /** `ChangeGen.stream` written as a WAL partitioned by epoch. */
  def writeWal(ctx: Ctx, cfg: GenConfig, dir: Path): DataFrame = {
    ctx.tracer.span("gen", "stream+wal") { s =>
      ChangeGen.stream(ctx.spark, cfg).toDF()
        .write.partitionBy("epoch").parquet(dir.toString)
      s.attr("events", cfg.numEvents.toDouble)
    }
    ctx.spark.read.parquet(dir.toString)
  }

  def merge(ctx: Ctx, table: LakeTable, events: DataFrame,
            epoch: Long): Option[MergeUpsert.MergeResult] =
    ctx.tracer.span("lake.merge", "mergeEpoch") { s =>
      val r = MergeUpsert.mergeEpoch(ctx.spark, table,
        events.filter(col("epoch") === epoch), epoch)
      r.foreach { m =>
        s.attr("events", m.eventsApplied.toDouble)
        s.attr("keys", m.keysInBatch.toDouble)
        s.attr("bytes_written", m.bytesWritten.toDouble)
        s.attr("buckets_touched", m.bucketsTouched.toDouble)
      }
      r
    }

  /** A fold (hot buckets or full); returns the bytes it wrote. */
  def fold(ctx: Ctx, table: LakeTable, name: String)
          (call: => Option[Manifest]): Long =
    ctx.tracer.span("lake.maintenance", name) { s =>
      val before = table.currentManifest
      val after = call
      val bytes = after.map(Session.addedBytes(before, _)).getOrElse(0L)
      s.attr("bytes_rewritten", bytes.toDouble)
      s.attr("delta_files_before",
        before.map(_.deltaFiles.size).getOrElse(0).toDouble)
      bytes
    }

  /** Traced runs only: the manifest read that precedes a table read, and
    * the read amplification it implies. */
  def traceManifest(ctx: Ctx, table: LakeTable): Option[Manifest] =
    if (!ctx.tracer.enabled) None
    else ctx.tracer.span("lake.table", "currentManifest") { s =>
      val m = table.currentManifest
      m.foreach { mf =>
        s.attr("delta_files", mf.deltaFiles.size.toDouble)
        s.attr("manifest_bytes", Files.size(Paths.get(table.root, "_log",
          f"v${mf.version}%08d.json")).toDouble)
      }
      m
    }

  /** The fold-oracle state after epochs `0..lastEpoch` of `cfg`'s stream,
    * for [[FoldOracle.digestOfState]]. A re-delivered event repeats an
    * earlier offset that is already in the prefix, so the prefix of base
    * offsets is the whole delivered input. The fold's rule (the latest
    * offset of a key wins, a delete removes the key) is applied to offset
    * ranges in parallel and the range winners are then combined, so a
    * prefix of millions of events checks in seconds. */
  def oracleState(cfg: GenConfig, lastEpoch: Long)
      : Map[(String, String), FoldOracle.State] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val n = math.min(cfg.numEvents, (lastEpoch + 1) * cfg.epochSize)
    val parts = Runtime.getRuntime.availableProcessors()
    def par[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    val latest = par((0 until parts).map(i => (n * i / parts, n * (i + 1) / parts))) {
      case (a, b) =>
        val m = mutable.HashMap.empty[(String, String), Long]
        var seq = a
        while (seq < b) {
          val ev = ChangeGen.eventAt(cfg, seq)
          m((ev.repo, ev.path)) = seq
          seq += 1
        }
        m
    }.reduce { (x, y) => y.foreach { case (k, s) => x(k) = s }; x }
    par(latest.values.toSeq.grouped(math.max(1, latest.size / parts + 1)).toSeq) {
      seqs => seqs.map(ChangeGen.eventAt(cfg, _)).filter(_.op != "D").map(e =>
        (e.repo, e.path) -> FoldOracle.State(e.repo, e.path, e.commit, e.lang,
          e.content, e.seq))
    }.flatten.toMap
  }

  def digestMatches(ctx: Ctx, table: LakeTable,
                    state: Map[(String, String), FoldOracle.State]): Boolean =
    FoldOracle.digestOfTable(table.snapshot(ctx.spark)) ==
      FoldOracle.digestOfState(state)

  def elapsed(t0: Double): Double = Clock.now() - t0

  /** Median epoch time of the last quarter over that of the first. */
  def growth(xs: Seq[Double]): Option[Double] =
    if (xs.size < 4) None
    else {
      val q = xs.size / 4
      def med(s: Seq[Double]) = { val v = s.sorted; v(v.size / 2) }
      Some(med(xs.takeRight(q)) / med(xs.take(q)))
    }
}

/** `pipeline`: `Pipeline.run` one epoch at a time over the five OMOP
  * domains. Small epochs over a small key space, so an epoch's time is the
  * fixed cost of its many small jobs and commits. */
final class PipelineWorkload extends Workload {
  val EpochEvents = 1000L
  /** `--seconds` buys one epoch per this many seconds (at least two). A run
    * is a fixed amount of work, so every run of the same code measures the
    * same epochs. */
  val SecondsPerEpoch = 4.0
  private var epochs = 0

  private var cfg: GenConfig = _
  private var events: DataFrame = _
  private var source: LakeTable = _
  private var domains: Seq[Pipeline.DomainDef] = _
  private var tables: Map[String, LakeTable] = _
  private var lastEpoch = -1L

  /** Domain tables are small, so shuffles keep Spark's own partition
    * coalescing, as in the engine's tests; only the source table has
    * bucket-aligned merges. */
  override def sessionConf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (2 * cores).toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true")

  private def shape(seed: Long, epochs: Int, epochEvents: Long) =
    GenConfig(seed = seed, numEvents = epochEvents * epochs, numRepos = 50,
      pathsPerRepo = 200, epochSize = epochEvents, duplicateRate = 5)

  def warmUp(ctx: Ctx, dir: Path): Unit = {
    val five = Pipeline.omopDomains(ctx.spark)
    val warmCfg = shape(ctx.seed ^ 0x5A5AL, 2, EpochEvents / 2)
    val warmEvents = Cdc.writeWal(ctx, warmCfg, dir.resolve("wal"))
    val warmSource = new LakeTable(dir.resolve("src").toString, 8)
    val warmTables = Pipeline.openDomainTables(dir.resolve("dom").toString,
      five, 4)
    Pipeline.run(ctx.spark, warmEvents, warmSource, five, warmTables,
      maxEpoch = 1, upToEpoch = Some(0L))
  }

  def prepare(ctx: Ctx, dir: Path): Unit = {
    epochs = math.max(2, (ctx.seconds / SecondsPerEpoch).toInt)
    cfg = shape(ctx.seed, epochs, EpochEvents)
    events = Cdc.writeWal(ctx, cfg, dir.resolve("wal"))
    domains = Pipeline.omopDomains(ctx.spark)
    source = new LakeTable(dir.resolve("src").toString, 8)
    tables = Pipeline.openDomainTables(dir.resolve("dom").toString, domains, 4)
  }

  def run(ctx: Ctx, rec: Record): Unit = {
    var delivered = 0L
    var written = 0L
    var e = 0
    var ok = true
    val t0 = Clock.now()
    while (ok && e < epochs) {
      val epoch = e.toLong
      val te = Clock.now()
      val r = rec.op(s"pipeline epoch $e")(
        ctx.tracer.span("engine.pipeline", "run") { s =>
          val rep = Pipeline.run(ctx.spark, events, source, domains, tables,
            maxEpoch = epochs - 1, upToEpoch = Some(epoch))
          if (ctx.tracer.enabled) domains.foreach { d =>
            val t = tables(d.name)
            val mtime = Files.getLastModifiedTime(Paths.get(t.root, "_log",
              f"v${t.currentVersion}%08d.json")).toMillis / 1e3
            s.attr(s"domain.${d.name}.commit_offset_s", mtime - s.start)
          }
          rep
        })
      val dt = Clock.now() - te
      r.foreach { rep =>
        val missing = ("source" +: domains.map(_.name))
          .filterNot(rep.applied(_).contains(epoch))
        if (missing.nonEmpty)
          rec.fail(s"epoch $e not committed by ${missing.mkString(",")}")
        else {
          rec.sample("epoch_s", dt)
          lastEpoch = epoch
          val results = rep.updates.flatMap(_.result)
          results.foreach(m => written += m.bytesWritten)
          rep.updates.find(_.table == "source").flatMap(_.result).foreach { m =>
            delivered += m.eventsApplied
            rec.counts(f"lake.merge.e$e%03d") =
              Seq(m.eventsApplied, m.keysInBatch, m.bytesWritten)
          }
        }
      }
      ok = r.isDefined && lastEpoch == epoch
      e += 1
    }
    rec.set("window_s", Cdc.elapsed(t0))
    rec.set("events", delivered)
    rec.set("bytes_written", written)
    rec.set("epochs", lastEpoch + 1)
    Cdc.growth(rec.samples.getOrElse("epoch_s", Nil).toSeq)
      .foreach(rec.set("epoch_growth", _))
  }

  private def fmt(v: Any): String = Option(v).map(_.toString).getOrElse("\u2205")
  private def lines(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect()
      .map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString("|"))
      .toSeq.sorted

  def check(ctx: Ctx, rec: Record): Unit = {
    val st = Cdc.oracleState(cfg, lastEpoch)
    val spark = ctx.spark
    rec.check("pipeline: source digest equals the fold oracle")(
      Cdc.digestMatches(ctx, source, st))
    def snap(n: String) = tables(n).snapshot(spark)
    // column lists as in the engine's own pipeline oracle test
    val expected: Seq[(String, () => Seq[String], () => Seq[String])] = Seq(
      ("person", () => lines(snap("person"), "person_source_value", "n_paths",
        "n_langs", "langs", "first_path", "modified_seq"),
        () => DomainOracle.personLines(st)),
      ("visit_occurrence", () => lines(snap("visit_occurrence"), "repo", "path",
        "commit", "source_seq", "preceding_commit"),
        () => DomainOracle.visitLines(st)),
      ("condition_occurrence", () => lines(snap("condition_occurrence"), "repo",
        "condition_group", "start_seq", "end_seq", "updt_seq", "n_occurrences"),
        () => DomainOracle.conditionLines(st)),
      ("drug_exposure", () => lines(snap("drug_exposure"), "repo", "path",
        "exposure_concept", "source_seq", "content_len"),
        () => DomainOracle.drugLines(st)),
      ("measurement", () => lines(snap("measurement"), "repo", "path",
        "measurement_concept", "value_source_value", "repo_n_langs"),
        () => DomainOracle.measurementLines(st)))
    require(expected.map(_._1).toSet == domains.map(_.name).toSet,
      "every domain has an oracle check")
    expected.foreach { case (name, got, want) =>
      rec.check(s"pipeline: domain $name equals its oracle")(got() == want())
    }
  }
}

/** `serve`: reads beside writes. Each epoch commits to a source table, the
  * change feed mirrors the increment into a second table, and one key batch
  * is looked up; every few epochs a full live scan runs, and both tables
  * are folded every [[FoldEvery]] epochs. */
final class Serve extends Workload {
  val EpochEvents = 10000L
  /** `--seconds` buys one fold cycle ([[FoldEvery]] epochs) per this many
    * seconds (at least one). A run is a fixed amount of work, so every run
    * of the same code measures the same mix of merges, lookups, scans and
    * folds. */
  val SecondsPerCycle = 6.0
  private var epochs = 0
  val FoldEvery = 4
  val ScanEvery = 2
  val LookupKeys = 20

  private var cfg: GenConfig = _
  private var events: DataFrame = _
  private var source: LakeTable = _
  private var mirror: LakeTable = _
  private var cursor: ChangeFeed.Cursor = _
  private var lastEpoch = -1L
  /** (epoch, keys, collected rows) of every lookup, checked afterwards. */
  private val lookups = mutable.ArrayBuffer.empty[(Long, Seq[(String, String)], Seq[Row])]

  private def shape(seed: Long, epochs: Int, epochEvents: Long) =
    GenConfig(seed = seed, numEvents = epochEvents * epochs, numRepos = 500,
      pathsPerRepo = 2000, epochSize = epochEvents, duplicateRate = 5,
      contentLen = 256)

  private def open(ctx: Ctx, dir: Path)
      : (LakeTable, LakeTable, ChangeFeed.Cursor) = (
    new LakeTable(dir.resolve("src").toString, 4 * ctx.cores),
    new LakeTable(dir.resolve("mirror").toString, 4 * ctx.cores),
    new ChangeFeed.Cursor(dir.resolve("cursor").toString))

  def warmUp(ctx: Ctx, dir: Path): Unit = {
    val warmCfg = shape(ctx.seed ^ 0x5A5AL, 2, EpochEvents / 2)
    val warmEvents = Cdc.writeWal(ctx, warmCfg, dir.resolve("wal"))
    val (s, m, c) = open(ctx, dir)
    Seq(0L, 1L).foreach(e => epoch(ctx, new Record, warmCfg, warmEvents,
      s, m, c, e, foldAt = if (e == 1) 2 else 0, scan = true))
    lookups.clear()
  }

  def prepare(ctx: Ctx, dir: Path): Unit = {
    epochs = FoldEvery * math.max(1, (ctx.seconds / SecondsPerCycle).toInt)
    cfg = shape(ctx.seed, epochs, EpochEvents)
    events = Cdc.writeWal(ctx, cfg, dir.resolve("wal"))
    val (s, m, c) = open(ctx, dir)
    source = s; mirror = m; cursor = c
  }

  /** The seeded key batch of `epoch`: keys of events already delivered. */
  private def keysFor(c: GenConfig, epoch: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(c.seed * 31 + epoch)
    val n = (epoch + 1) * c.epochSize
    Seq.fill(LookupKeys) {
      val ev = ChangeGen.eventAt(c, (rnd.nextLong() & Long.MaxValue) % n)
      (ev.repo, ev.path)
    }.distinct
  }

  /** One serve iteration; `foldAt > 0` folds both tables' buckets holding
    * that many delta files. Returns false when an operation failed. */
  private def epoch(ctx: Ctx, rec: Record, c: GenConfig, ev: DataFrame,
                    src: LakeTable, mir: LakeTable, cur: ChangeFeed.Cursor,
                    e: Long, foldAt: Int, scan: Boolean): Boolean = {
    val t0 = Clock.now()
    val merged = rec.op(s"merge epoch $e")(Cdc.merge(ctx, src, ev, e)) match {
      case Some(Some(r)) if r.committed => Some(r)
      case Some(_) => rec.fail(s"epoch $e not committed"); None
      case None => None
    }
    if (merged.isEmpty) return false
    val tc = Clock.now()
    val mirrorBefore = mir.currentManifest
    val drained = rec.op(s"feed drain after epoch $e")(
      ctx.tracer.span("streaming.feed", "drain") { _ =>
        ChangeFeed.drain(ctx.spark, src, cur) { inc =>
          ctx.tracer.span("streaming.feed", "mirrorInto") { s =>
            ChangeFeed.mirrorInto(ctx.spark, src, mir)(inc)
            if (ctx.tracer.enabled) mir.currentManifest
              .flatMap(_.lineage.get(s"epoch_${inc.toVersion}"))
              .flatMap("events=(\\d+)".r.findFirstMatchIn(_))
              .foreach(m => s.attr("rows", m.group(1).toDouble))
          }
        }
      })
    val t1 = Clock.now()
    if (drained.isEmpty) return false
    if (!mir.currentManifest.exists(_.epochWatermark == cur.read)) {
      rec.fail(s"mirror did not commit source version ${src.currentVersion}")
      return false
    }
    val r = merged.get
    rec.sample("epoch_s", t1 - t0)
    rec.sample("feed_lag_s", t1 - tc)
    add(rec, "events", r.eventsApplied)
    add(rec, "bytes_written", r.bytesWritten +
      Session.addedBytes(mirrorBefore, mir.currentManifest.get))
    rec.counts(f"lake.merge.e$e%03d") =
      Seq(r.eventsApplied, r.keysInBatch, r.bytesWritten)

    val keys = keysFor(c, e)
    val m = Cdc.traceManifest(ctx, src)
    val tl = Clock.now()
    val got = rec.op(s"lookup after epoch $e")(
      ctx.tracer.span("lake.table", "lookupKeys") { s =>
        val rows = src.lookupKeys(ctx.spark, keys.map { case (a, b) => Seq(a, b) })
          .select("repo", "path", "commit", "lang", "content").collect().toSeq
        m.foreach { mf =>
          val bucketOf = MergeUpsert.localBucketOf(
            org.apache.spark.sql.types.StructType(src.keyCols.map(mf.schema(_))),
            src.keyCols, mf.numBuckets)
          val buckets = keys.map { case (a, b) => bucketOf(Row(a, b)) }.toSet
          s.attr("lookup_buckets", buckets.size.toDouble)
          s.attr("rows_read", mf.files.filter(f => buckets(f.bucket))
            .map(_.rows).sum.toDouble)
          s.attr("rows_returned", rows.size.toDouble)
        }
        rows
      })
    if (got.isEmpty) return false
    rec.sample("lookup_s", Clock.now() - tl)
    lookups += ((e, keys, got.get))

    if (scan) {
      Cdc.traceManifest(ctx, src)
      val ts = Clock.now()
      if (rec.op(s"scan after epoch $e")(ctx.tracer.span("lake.table",
          "snapshot") { _ =>
        src.snapshot(ctx.spark).write.format("noop").mode("overwrite").save()
      }).isEmpty) return false
      rec.sample("scan_s", Clock.now() - ts)
    }
    if (foldAt > 0) Seq(src, mir).foreach { t =>
      rec.op(s"hot fold of ${t.root} after epoch $e")(Cdc.fold(ctx, t,
        "compactHotBuckets")(Maintenance.compactHotBuckets(ctx.spark, t,
          minDeltaFiles = foldAt))).foreach(add(rec, "bytes_written", _))
    }
    true
  }

  private def add(rec: Record, k: String, v: Long): Unit =
    rec.set(k, rec.values.getOrElse(k, 0L).asInstanceOf[Long] + v)

  def run(ctx: Ctx, rec: Record): Unit = {
    var e = 0
    var ok = true
    val t0 = Clock.now()
    while (ok && e < epochs) {
      ok = epoch(ctx, rec, cfg, events, source, mirror, cursor, e,
        foldAt = if ((e + 1) % FoldEvery == 0) FoldEvery else 0,
        scan = (e + 1) % ScanEvery == 0)
      if (ok) lastEpoch = e
      e += 1
    }
    rec.set("window_s", Cdc.elapsed(t0))
    rec.set("epochs", lastEpoch + 1)
    Cdc.growth(rec.samples.getOrElse("epoch_s", Nil).toSeq)
      .foreach(rec.set("epoch_growth", _))
  }

  def check(ctx: Ctx, rec: Record): Unit = {
    // replay the oracle epoch by epoch and compare every recorded lookup
    val state = mutable.Map.empty[(String, String), FoldOracle.State]
    var next = 0L
    lookups.foreach { case (e, keys, rows) =>
      val upTo = math.min(cfg.numEvents, (e + 1) * cfg.epochSize)
      while (next < upTo) {
        val ev = ChangeGen.eventAt(cfg, next)
        if (ev.op == "D") state.remove((ev.repo, ev.path))
        else state((ev.repo, ev.path)) = FoldOracle.State(ev.repo, ev.path,
          ev.commit, ev.lang, ev.content, ev.seq)
        next += 1
      }
      val want = keys.flatMap(state.get)
        .map(s => Seq(s.repo, s.path, s.commit, s.lang, s.content)).toSet
      val have = rows.map(r => (0 until 5).map(r.getString)).toSet
      rec.check(s"serve: lookup after epoch $e equals the fold oracle")(
        have == want && rows.size == want.size)
    }
    val srcDigest = FoldOracle.digestOfTable(source.snapshot(ctx.spark))
    rec.check("serve: source digest equals the fold oracle")(
      srcDigest == FoldOracle.digestOfState(Cdc.oracleState(cfg, lastEpoch)))
    rec.check("serve: mirror digest equals the source digest")(
      FoldOracle.digestOfTable(mirror.snapshot(ctx.spark)) == srcDigest)
  }
}
