package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable
import graft.oracle.FoldOracle
import graft.streaming.StreamIngest

/** Structured-Streaming WAL-tail ingest: drain-available-now semantics,
  * resume across restarts, bounded-batch tailing — all converging to the
  * fold-oracle state (north_rule replay equivalence, streaming flavor). */
class StreamIngestSpec extends SparkSpec {

  private val cfg = GenConfig(seed = 11L, numEvents = 4000L, numRepos = 15,
    pathsPerRepo = 40, epochSize = 500L)

  private def oracleDigest(c: GenConfig): String =
    FoldOracle.digestOfState(FoldOracle.expectedState(c))

  private def writeWal(dir: String, c: GenConfig, fromSeq: Long, toSeq: Long): Unit = {
    import spark.implicits._
    spark.range(fromSeq, toSeq).map(i => ChangeGen.eventAt(c, i)).toDF()
      .coalesce(4)
      .write.mode("append").parquet(dir)
  }

  private def walSchema = {
    import spark.implicits._
    spark.emptyDataset[graft.model.ChangeEvent].toDF().schema
  }

  test("AvailableNow stream drains the WAL and matches the fold oracle") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val table = new LakeTable(tmpDir("lake"), 8)
    writeWal(wal, cfg, 0, cfg.numEvents)
    val q = StreamIngest.start(spark, wal, walSchema, table, ckpt)
    q.awaitTermination()
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == oracleDigest(cfg))
  }

  test("restarted stream resumes from checkpoint; new files merge incrementally") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val table = new LakeTable(tmpDir("lake"), 8)
    writeWal(wal, cfg, 0, 2000)
    StreamIngest.start(spark, wal, walSchema, table, ckpt).awaitTermination()
    val midDigest = FoldOracle.digestOfTable(table.snapshot(spark))
    assert(midDigest == FoldOracle.digestOfState(FoldOracle.expectedState(
      (0L until 2000L).map(ChangeGen.eventAt(cfg, _)))))

    // second tranche lands; a NEW query on the SAME checkpoint resumes and
    // processes only the new files
    writeWal(wal, cfg, 2000, cfg.numEvents)
    StreamIngest.start(spark, wal, walSchema, table, ckpt).awaitTermination()
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == oracleDigest(cfg))
  }

  test("bounded batches (maxFilesPerTrigger=1) converge to the same state") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val table = new LakeTable(tmpDir("lake"), 8)
    writeWal(wal, cfg, 0, cfg.numEvents) // 4 files (coalesce(4))
    val q = StreamIngest.start(spark, wal, walSchema, table, ckpt,
      Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // several micro-batches committed, each an idempotent epoch
    assert(table.lastCommittedEpoch >= 1)
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == oracleDigest(cfg))
  }

  test("streaming multi-table pipeline: every domain table converges " +
      "(DEEP 16-domain topology incl. the 3-deep chain and the algebraic code_value rollup); restart resumes " +
      "mid-stream") {
    import graft.engine.Pipeline
    import graft.oracle.DomainOracle
    val wal = tmpDir("pwal"); val ckpt = tmpDir("pckpt")
    val source = new LakeTable(tmpDir("plake"), 8)
    val domains = Pipeline.omopDomainsDeep(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pdom"), domains, 4)

    // first tranche, bounded batches → several pipeline epochs
    writeWal(wal, cfg, 0, 2000)
    StreamIngest.startPipeline(spark, wal, walSchema, source, domains,
      tables, ckpt, maxFilesPerTrigger = Some(2), compactEvery = 2)
      .awaitTermination()
    // second tranche; a NEW query on the SAME checkpoint resumes
    writeWal(wal, cfg, 2000, cfg.numEvents)
    StreamIngest.startPipeline(spark, wal, walSchema, source, domains,
      tables, ckpt, maxFilesPerTrigger = Some(2), compactEvery = 2)
      .awaitTermination()

    assert(FoldOracle.digestOfTable(source.snapshot(spark)) == oracleDigest(cfg))
    val st = FoldOracle.expectedState(cfg)
    def lines(name: String, cols: String*): Seq[String] =
      // through the domain's read-time view (location stores sub-grain)
      Pipeline.readDomain(spark, domains.find(_.name == name).get,
        tables(name)).select(cols.map(col): _*).collect()
        .map(r => (0 until r.length).map(i =>
          Option(r.get(i)).map(_.toString).getOrElse("∅")).mkString("|"))
        .toSeq.sorted
    assert(lines("person", "person_source_value", "n_paths", "n_langs",
      "langs", "first_path", "modified_seq") == DomainOracle.personLines(st))
    assert(lines("visit_occurrence", "repo", "path", "commit", "source_seq",
      "preceding_commit") == DomainOracle.visitLines(st))
    assert(lines("condition_occurrence", "repo", "condition_group",
      "start_seq", "end_seq", "updt_seq", "n_occurrences")
      == DomainOracle.conditionLines(st))
    assert(lines("drug_exposure", "repo", "path", "exposure_concept",
      "source_seq", "content_len") == DomainOracle.drugLines(st))
    assert(lines("measurement", "repo", "path", "measurement_concept",
      "value_source_value", "repo_n_langs") == DomainOracle.measurementLines(st))
    assert(lines("visit_detail", "repo", "path", "commit", "source_seq",
      "preceding_commit", "visit_rank") == DomainOracle.visitDetailLines(st))
    assert(lines("procedure_occurrence", "repo", "path", "procedure_concept",
      "visit_rank", "procedure_source_value") == DomainOracle.procedureLines(st))
    assert(lines("observation_period", "person_source_value",
      "period_start_seq", "period_end_seq", "n_observations")
      == DomainOracle.observationPeriodLines(st))
    assert(lines("note", "repo", "path", "note_title", "note_class",
      "note_chars") == DomainOracle.noteLines(st))
    assert(lines("care_site", "repo", "care_site_dir", "n_site_paths",
      "n_site_langs", "site_seq") == DomainOracle.careSiteLines(st))
    assert(lines("location", "location_dir", "n_location_repos",
      "n_location_paths") == DomainOracle.locationLines(st))
    assert(lines("provider", "repo", "provider_ext", "n_provider_paths",
      "provider_seq") == DomainOracle.providerLines(st))
    assert(lines("observation", "repo", "path", "obs_concept", "obs_value",
      "visit_rank") == DomainOracle.observationLines(st))
    assert(lines("observation_final", "repo", "path", "obs_concept",
      "obs_value", "obs_rank") == DomainOracle.observationFinalLines(st))
    assert(lines("specimen", "repo", "path", "specimen_concept",
      "specimen_source_value", "visit_rank") == DomainOracle.specimenLines(st))
    assert(lines("code_value", "lang", "n_code_paths", "total_code_chars")
      == DomainOracle.codeValueLines(st))
  }

  test("streaming epoch step refuses a domain two epochs behind the batch; " +
      "caught up by the batch Pipeline.run, the next batch streams through") {
    import graft.engine.{Pipeline, Replayer}
    val events = ChangeGen.stream(spark, cfg).toDF()
    val source = new LakeTable(tmpDir("rsrc"), 8)
    val domains = Pipeline.omopDomains(spark).take(1) // person
    val tables = Pipeline.openDomainTables(tmpDir("rdom"), domains, 4)
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 7,
      upToEpoch = Some(0))
    Replayer.run(spark, events, source, maxEpoch = 7, upToEpoch = Some(1))
    // person at 0, batch 2: the batch alone no longer holds epoch 1's groups
    val ex = intercept[IllegalArgumentException] {
      StreamIngest.applyBatch(events.filter(col("epoch") === 2), 2L, source,
        domains, tables, compactEvery = 0)
    }
    assert(ex.getMessage.contains(
      "catch it up with the batch Pipeline.run before streaming"), ex)
    assert(tables("person").lastCommittedEpoch == 0)

    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 7,
      upToEpoch = Some(2))
    val ups = StreamIngest.applyBatch(events.filter(col("epoch") === 3), 3L,
      source, domains, tables, compactEvery = 0)
    assert(ups.map(u => (u.table, u.result.isDefined)) ==
      Seq("source" -> true, "person" -> true))
    assert(tables("person").lastCommittedEpoch == 3)
  }

  test("re-running a fully-drained stream with a fresh checkpoint is a harmless replay") {
    val wal = tmpDir("wal")
    val table = new LakeTable(tmpDir("lake"), 8)
    writeWal(wal, cfg, 0, cfg.numEvents)
    StreamIngest.start(spark, wal, walSchema, table, tmpDir("ckpt1")).awaitTermination()
    val d1 = FoldOracle.digestOfTable(table.snapshot(spark))
    // lost checkpoint → full re-delivery of every file: latest-wins by
    // (seq, commit) makes the duplicate replay a semantic no-op
    StreamIngest.start(spark, wal, walSchema, table, tmpDir("ckpt2")).awaitTermination()
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == d1)
  }

  test("a checkpoint reset against a GROWN WAL fails loudly instead of " +
      "silently dropping the new events renumbered into old batchIds") {
    val wal = tmpDir("wal")
    val table = new LakeTable(tmpDir("lake"), 8)
    writeWal(wal, cfg, 0, 2000)
    StreamIngest.start(spark, wal, walSchema, table, tmpDir("ckpt1")).awaitTermination()
    assert(table.lastSeq == 1999)
    // the WAL grows, THEN the checkpoint is recreated: batches renumber
    // from 0, so the batch carrying seqs 2000-3999 arrives as batchId 0 —
    // at or below the table watermark, where the exactly-once skip would
    // silently discard it. The guard detects seq > lastSeq and fails.
    writeWal(wal, cfg, 2000, cfg.numEvents)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamIngest.start(spark, wal, walSchema, table, tmpDir("ckpt2"))
        .awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("checkpoint was reset"))), ex)
    // nothing was silently merged or lost-and-marked-done
    assert(table.lastSeq == 1999)
  }
}
