package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE of one change-event batch into a [[LakeTable]] as a DELTA commit
  * (merge-on-read; [[Maintenance.compact]] is the copy-on-write half).
  *
  * Semantics (the engine's core contract, north_rule):
  *  - latest-wins per business key `(repo, path)` ordered by `(seq, commit)`
  *    — the reference's W1 ROW_NUMBER dedupe
  *    (/root/reference/Delphi/MSSQL_Vertica_Translations/
  *     Omop_Incremental_Condition_Ocurrence.sql:71-78) made total-ordered;
  *  - `op = D` writes a tombstone row; I/U upsert (MERGE fixes the
  *    reference's acknowledged duplicate-INSERT gap, ArchitecturePlan.md:74);
  *  - idempotent: re-delivering any subset of already-applied events
  *    cannot change the final state (same (seq,commit) ⇒ same winner, and
  *    a duplicate epoch ≤ the manifest watermark is skipped outright);
  *  - schema evolution: added batch columns union into the target schema
  *    (missing values NULL); renamed feed columns are normalized to the
  *    canonical name via the manifest's rename map before merging.
  *
  * Scale design — ONE Spark job per epoch, O(batch) work:
  *  - within-batch compaction is a partial+final hash aggregate
  *    (ObjectHashAggregate over the custom [[graft.functions.LatestBy]]):
  *    a hot `(repo,path)` key collapses to one row per map task *before*
  *    the shuffle — this IS the salting strategy for the skewed upsert
  *    (SURVEY.md §4.3.3), expressed so AQE needs no rescue;
  *  - the target is NEVER read at ingest time: the compacted batch lands
  *    as an immutable delta commit, so per-epoch write amplification is
  *    O(|batch keys|), not O(|table|) — at 10^10 events copy-on-write at
  *    bucket grain rewrote essentially the whole table every epoch;
  *  - `content_sha` is computed AFTER compaction — only winning rows pay
  *    the sha256;
  *  - metrics ride on `observe()` over the write — no extra pass, no
  *    separate stats job, no driver-side footer reads on the hot path;
  *  - a lost manifest CAS is retried by re-basing on the new head (delta
  *    files are content-independent of concurrent commits), so racing
  *    maintenance (compaction/vacuum) never loses events and two
  *    committers racing the SAME epoch resolve exactly-once (the loser's
  *    files orphan). Epochs must still be committed in ascending order
  *    per table — a later epoch overtaking an uncommitted earlier one is
  *    detected via the per-epoch lineage registry and throws rather than
  *    silently dropping the earlier batch.
  */
/** THE formatter/parser pair for per-epoch lineage registry entries. The
  * entry value is human-readable, but one field is load-bearing machine
  * input: `keys=N` feeds [[graft.engine.Pipeline]]'s broadcast-vs-
  * distributed size gate. Producing and parsing in one object (with a
  * round-trip test pinning both) makes a format drift a loud test
  * failure instead of a silent every-epoch-goes-distributed slowdown. */
object EpochLineage {
  def format(events: Long, keys: Long, collapsed: Long, deletes: Long,
             rows: Long, bytes: Long, buckets: Int): String =
    s"events=$events keys=$keys collapsed=$collapsed deletes=$deletes " +
      s"rows=$rows bytes=$bytes buckets=$buckets"

  private val KeysRe = "(?:^| )keys=(\\d+)(?: |$)".r

  /** Distinct-key count of a PRESENT entry. A present-but-unparseable
    * entry is a format drift (or registry corruption) — loud error, never
    * a silent fallback: the caller's safe default (distributed regime) is
    * for entries that are MISSING, not mangled. */
  def keysOf(entry: String): Long =
    KeysRe.findFirstMatchIn(entry).map(_.group(1).toLong).getOrElse(
      throw new IllegalStateException(
        s"lineage entry carries no parseable keys= field: '$entry' — " +
          "format drift between EpochLineage.format and keysOf"))
}

object MergeUpsert {

  /** The source table's merge key. Derived domain tables key on their own
    * business keys — the key is a table property ([[LakeTable.keyCols]]). */
  val DefaultKeyCols: Seq[String] = Seq("repo", "path")

  /** Parquet writer options for lake commits (delta + compaction).
    * Dictionary encoding is disabled per-column for the columns that are
    * unique-per-row by construction (content, its sha, the commit id, the
    * sequence number): the dictionary writer hashes every value only to
    * overflow the page dictionary and fall back to plain — profiled at a
    * measurable slice of merge CPU (`Binary.hashCode` /
    * `Long2IntLinkedOpenHashMap` under `InternalParquetRecordWriter`) for
    * zero size benefit. Repetitive columns (repo, path, lang, bucket)
    * keep dictionary encoding — that is where the size win lives.
    * Unknown column names are ignored by parquet-mr, so the same option
    * set is safe for derived domain tables. */
  val ParquetWriteOptions: Map[String, String] = Map(
    "parquet.enable.dictionary#content" -> "false",
    "parquet.enable.dictionary#content_sha" -> "false",
    "parquet.enable.dictionary#commit" -> "false",
    "parquet.enable.dictionary#updated_seq" -> "false")

  /** Bucket function = Spark's own HashPartitioning id expression
    * (`pmod(murmur3(keyCols...), n)`). This is deliberate: the final
    * aggregate's shuffle already places every row in the partition whose
    * id equals its bucket (when shuffle.partitions == numBuckets), so the
    * delta write's `partitionBy("bucket")` needs NO further shuffle.
    * Identified in the manifest as [[LakeTable.BucketFn]]. */
  def bucketOf(numBuckets: Int,
               keyCols: Seq[String] = DefaultKeyCols): Column =
    pmod(hash(keyCols.map(col): _*), lit(numBuckets)).cast("int")

  /** Driver-side twin of [[bucketOf]] for ALREADY-COLLECTED rows: builds
    * the very same Catalyst expression (Murmur3Hash seed 42 → Pmod →
    * int cast) and evaluates it locally. The LocalRelation fast paths
    * previously derived bucket IDs by running a distinct+shuffle Spark
    * job over a handful of driver-local rows — two whole stages per
    * domain-epoch for a value the driver can compute in microseconds. */
  def localBucketOf(schema: org.apache.spark.sql.types.StructType,
                    keyCols: Seq[String],
                    numBuckets: Int): org.apache.spark.sql.Row => Int = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Cast, Literal, Murmur3Hash, Pmod, UnsafeProjection}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val keyExprs = keyCols.map(n => attrs(schema.fieldIndex(n)))
    val expr = Cast(Pmod(new Murmur3Hash(keyExprs), Literal(numBuckets)),
      org.apache.spark.sql.types.IntegerType)
    val proj = UnsafeProjection.create(
      Seq(BindReferences.bindReference(expr, attrs)))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    r => proj(toCatalyst(r)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]).getInt(0)
  }

  /** Collapse a frame to the winning row per key by `ordCols` desc.
    * Partial+final ObjectHashAggregate — map-side combine collapses hot
    * keys before the shuffle (skew-proof by construction). Uses the custom
    * [[graft.functions.LatestBy]]: the builtin `max_by(struct, struct)`
    * carries a struct buffer that HashAggregateExec can't hold, silently
    * degrading to SortAggregate (per-partition n·log n sort of every merge
    * batch — asserted against in PlanSpec). */
  def latestPerKey(df: DataFrame,
                   ordCols: Seq[String] = Seq("seq", "commit"),
                   keyCols: Seq[String] = DefaultKeyCols): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(ordCols.map(col): _*)
    // Key columns project from the GROUPING attributes (equal to the
    // winner's key by construction), NOT out of the latest_by struct: a
    // semi-join restriction on the key then references grouping
    // attributes, so Catalyst's PushDownLeftSemiAntiJoin drives it below
    // this aggregate to the scan — an affected-groups probe over a
    // snapshot reads O(affected), never collapsing the whole table first
    // (struct-field references block that rule). Column order preserved.
    df.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.LatestBy(payload, ord).as("__w"))
      .select(df.columns.toIndexedSeq.map(c =>
        if (keyCols.contains(c)) col(c)
        else col("__w").getField(c).as(c)): _*)
  }

  /** Cap on lineage entries carried in the HEAD manifest. Without a bound
    * the per-epoch metrics map is rewritten into every manifest — O(epochs²)
    * total manifest I/O by 10^5 epochs. Overridable for tests via
    * `-Dgraft.lineage.cap=N`. Full history is never lost: each retained
    * old manifest still carries the lineage as of its commit. */
  def lineageCap: Int =
    sys.props.get("graft.lineage.cap").map(_.toInt).getOrElse(4096)

  /** Drop the OLDEST epoch entries (then, if ever needed, the oldest
    * maintenance entries) until `lineage` fits `cap`, advancing the epoch
    * floor over the contiguously-dropped range. Epochs below the returned
    * floor are provably committed: commits are ascending-contiguous, so a
    * truncated entry was committed before every retained one. That
    * contiguity is load-bearing — `epoch < floor` is later treated as
    * proof-of-commit (exactly-once no-op) — so truncation VERIFIES it:
    * the dropped keys must form exactly the range [floor, newFloor), and
    * a gap (a caller having violated ascending-contiguous commits) is a
    * loud error here instead of silently swallowed re-deliveries later. */
  private[graft] def truncateLineage(lineage: Map[String, String],
      floor: Long, cap: Int): (Map[String, String], Long) = {
    if (lineage.size <= cap) return (lineage, floor)
    val epochKeys = lineage.keys
      .collect { case k if k.startsWith("epoch_") =>
        (k, k.stripPrefix("epoch_").toLong) }
      .toSeq.sortBy(_._2)
    var lin = lineage
    var fl = floor
    epochKeys.take(lineage.size - cap).foreach { case (k, e) =>
      require(e == fl,
        s"lineage truncation: dropping epoch $e but the floor is $fl — " +
          "the registry has a gap, so epochs below the floor would no " +
          "longer be provably committed (ascending-contiguous commit " +
          "order was violated)")
      lin -= k; fl = e + 1
    }
    if (lin.size > cap) { // epoch entries alone didn't cover the excess
      val maint = lin.keys.filterNot(_.startsWith("epoch_"))
        .map(k => (k, k.split("_v").last.toLongOption.getOrElse(Long.MaxValue)))
        .toSeq.sortBy(_._2)
      maint.take(lin.size - cap).foreach { case (k, _) => lin -= k }
    }
    (lin, fl)
  }

  final case class MergeResult(
      committed: Boolean,
      version: Long,
      eventsApplied: Long,  // raw events in the delivered batch
      keysInBatch: Long,    // distinct keys after within-batch compaction
      collapsed: Long,      // events superseded within the batch (incl. dup delivery)
      deletes: Long,
      rowsWritten: Long,
      bytesWritten: Long,
      bucketsTouched: Int)

  /** Merge one epoch batch as a delta commit. Caller guarantees `batch`
    * holds exactly the events of `epoch` (plus possible re-deliveries of
    * older events, which latest-wins neutralizes). Returns None if the
    * epoch is already committed (exactly-once skip, verified against the
    * per-epoch lineage registry) — including when a concurrent committer
    * wins the race for the same epoch. Epochs must be committed in
    * ascending order by a sequential writer (the [[graft.engine.Replayer]]
    * contract): if the table's watermark has passed `epoch` without
    * `epoch` itself ever committing, this throws instead of silently
    * dropping the batch — a later epoch overtaking an uncommitted earlier
    * one would otherwise lose events with no error.
    *
    * Fresh-root convention (the CDC initial-snapshot contract): a root
    * whose FIRST commit lands at epoch N > 0 asserts that its state
    * incorporates everything at or below N (a [[graft.engine.Pipeline]]
    * rebuild at the source watermark, a domain added to a long-lived
    * pipeline, a feed whose earlier epochs were compacted away upstream).
    * Deliveries below N are therefore exactly-once no-ops, NOT ordering
    * errors — the engine cannot distinguish incorporated history from a
    * mis-seeded feed, so a feed that genuinely lost its first epochs must
    * be caught upstream of the lake (pinned in ReplaySpec's
    * first-commit-at-N test). */
  /** `extraLineage`: caller-supplied lineage entries committed atomically
    * with the epoch (e.g. the pipeline's pinned-source-version record for
    * algebraic domains). Keys should carry a `_v<n>` suffix so the
    * lineage cap truncates them in age order. */
  def mergeEpoch(spark: SparkSession, table: LakeTable, batch: DataFrame,
                 epoch: Long,
                 extraLineage: Map[String, String] = Map.empty): Option[MergeResult] = {
    val current = table.currentManifest
    val watermark = current.map(_.epochWatermark).getOrElse(-1L)
    if (epoch <= watermark) {
      // duplicate delivery of a committed epoch → exactly-once no-op; an
      // epoch BELOW the watermark that never committed is an ordering bug.
      // Epochs below the lineage floor were truncated from the registry
      // but are provably committed (ascending-contiguous commit order).
      if (current.exists(m => epoch < m.lineageEpochFloor ||
          m.lineage.contains(s"epoch_$epoch"))) return None
      throw new IllegalStateException(
        s"mergeEpoch($epoch): table watermark is already $watermark but " +
          s"epoch $epoch was never committed — a later epoch overtook it " +
          "and its events would be silently lost (epochs must be " +
          "committed in ascending order per table)")
    }
    val nb = table.numBuckets
    val kc = table.keyCols

    // 1. normalize renamed feed columns to canonical names (manifest map)
    val aliases = current.map(_.feedAliases).getOrElse(Map.empty)
    val mapped = aliases.foldLeft(batch) { case (df, (former, canon)) =>
      if (df.columns.contains(former) && !df.columns.contains(canon))
        df.withColumnRenamed(former, canon)
      else df
    }
    // A former name that survives normalization means the batch carries
    // BOTH the former and the canonical column. Folding it silently would
    // hijack a legitimately re-introduced column into the renamed one
    // forever, and evolving it as a new field would collide with the
    // read path's alias projection (duplicate requested column). Fail
    // fast: the mapping is cleared by a full compaction, after which the
    // old name may be re-introduced as a genuinely new column.
    locally {
      val stale = mapped.columns.filter(aliases.contains)
      if (stale.nonEmpty) throw new IllegalArgumentException(
        s"mergeEpoch($epoch): batch re-introduces former column name(s) " +
          s"${stale.mkString(", ")} while their rename mapping is live " +
          s"(${stale.map(n => s"$n->${aliases(n)}").mkString(", ")}); " +
          "run a full compaction (materializes renames, clears the " +
          "mapping) before re-using a retired column name")
    }

    // 2. within-batch compaction (partial+final agg, one winner per key),
    //    then the storage projection; sha only on winners. content_sha is
    //    the per-row invariant of the SOURCE table (input_hint); derived
    //    domain tables have no content column and skip it. `epoch` and
    //    `schemaVersion` are dropped BEFORE the aggregate — they are
    //    discarded from the delta right after it, so carrying them through
    //    the payload struct and the partial-agg shuffle is pure waste
    //    (latest-wins winners are unaffected: neither is part of the
    //    (seq, commit) order, and a tie between a row and its re-delivery
    //    differs only in these dropped columns).
    val obsIn = Observation()
    val compacted = latestPerKey(
      mapped.drop("epoch", "schemaVersion")
        .observe(obsIn, count(lit(1)).as("events")), keyCols = kc)
    // once a table's committed schema carries content_sha, the per-row
    // invariant is established (input_hint) and a feed batch that lost
    // its content column must fail loudly here, not commit NULL-content
    // rows; tables that never had content (derived domains) are exempt
    require(compacted.columns.contains("content") ||
        !current.exists(_.schema.fieldNames.contains("content_sha")),
      s"mergeEpoch($epoch): batch has no 'content' column (columns: " +
        s"${compacted.columns.mkString(", ")}) but this table's schema " +
        "carries the content_sha invariant — refusing to commit rows " +
        "that would silently violate it")
    val sha =
      if (compacted.columns.contains("content"))
        compacted.withColumn("content_sha",
          sha2(coalesce(col("content"), lit("")), 256))
      else compacted
    val delta = sha
      .withColumn("updated_seq", col("seq"))
      .withColumn("__deleted", col("op") === "D")
      .drop("op", "seq", "epoch", "schemaVersion")

    // 3. single write pass with observed metrics (the Observation listener
    //    fires for whichever action executes the plan — here the write).
    //    bucketsTouched comes from the commit's file listing below (one
    //    file exists exactly per non-empty bucket): the previous
    //    `size(collect_set(bucketOf(...)))` observation re-hashed the key
    //    columns per output row through the interpreted accumulator path —
    //    profiled as a visible slice of the write stage for a number the
    //    directory listing already knows.
    val obs = Observation()
    val observed = delta.observe(obs,
      count(lit(1)).as("rows"),
      max(col("updated_seq")).as("maxSeq"),
      sum(when(col("__deleted"), 1L).otherwise(0L)).as("deletes"))
    val commitDir = table.newCommitDir(current.map(_.version).getOrElse(0L) + 1)
    observed
      .withColumn("bucket", bucketOf(nb, kc))
      .write.mode("overwrite").partitionBy("bucket")
      .options(ParquetWriteOptions)
      .parquet(commitDir.toString)

    // A ZERO-row batch (e.g. a derived domain whose epoch touches no
    // member of its partial membership) executes zero tasks, so the
    // CollectMetrics operators never run and both observations complete
    // with EMPTY metric maps — that is the legitimate empty-epoch shape
    // (the epoch still commits, advancing the watermark). Any other
    // missing-metrics case is a real defect, guarded below against the
    // write's file listing: no metrics while files were written fails.
    val inMetrics = obsIn.get
    val events = if (inMetrics.isEmpty) 0L
      else inMetrics("events").asInstanceOf[Long]
    val metricsRow = obs.get
    val rowsWritten = if (metricsRow.isEmpty) 0L
      else metricsRow("rows").asInstanceOf[Long]
    val maxSeq = metricsRow.get("maxSeq").flatMap(Option(_))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    val deletes = metricsRow.get("deletes").flatMap(Option(_))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

    // no footer reads on the hot path: bytes from the dir listing, rows
    // from the observation (per-file counts are recomputed at compaction)
    val newFiles = table.listCommitFiles(commitDir).map(_.copy(tier = "delta"))
    val bucketsTouched = newFiles.map(_.bucket).distinct.size
    require(metricsRow.nonEmpty || newFiles.isEmpty,
      s"mergeEpoch($epoch): write produced ${newFiles.size} files but no " +
        "observed metrics — metrics were lost, refusing to commit blind")
    val bytesWritten = newFiles.map(_.bytes).sum

    val deltaSchema = org.apache.spark.sql.types.StructType(
      delta.schema.fields)

    def evolvedSchemaJson(m: Option[Manifest]): String = m match {
      case None => deltaSchema.json
      case Some(mm) =>
        val existing = mm.schema
        // never evolve a FORMER (renamed-away) name into the schema: on a
        // CAS re-base, a rename may have committed between our manifest
        // read and this commit, so the delta's physical schema can still
        // carry the old name — the read path already folds that physical
        // column into the canonical one via the alias projection, and
        // adding it as a schema field would make physicalSchema request
        // the same column twice (every later read/compact would fail)
        val formers = mm.feedAliases.keySet
        val added = deltaSchema.fields.filterNot(f =>
          existing.fieldNames.contains(f.name) || formers.contains(f.name))
        org.apache.spark.sql.types.StructType(existing.fields ++ added).json
    }
    def lineageEntry = s"epoch_$epoch" -> EpochLineage.format(
      events, rowsWritten, math.max(0L, events - rowsWritten), deletes,
      rowsWritten, bytesWritten, bucketsTouched)
    def buildManifest(m: Option[Manifest]): Manifest = {
      // A FRESH root's first commit may land at epoch N > 0 — a domain
      // rebuilt at the source watermark (Pipeline.rebuildDomain) or a
      // domain added to a long-lived pipeline. The floor must seed at
      // that first committed epoch, not 0: truncation verifies the
      // dropped range is exactly [floor, newFloor), so a 0-seeded floor
      // under a first commit at N would fail that contiguity check the
      // moment the registry overflows — permanently. Epochs below N are
      // correctly treated as committed (the rebuild incorporated them).
      val (lin, linFloor) = truncateLineage(
        m.map(_.lineage).getOrElse(Map.empty) + lineageEntry ++ extraLineage,
        m.map(_.lineageEpochFloor).getOrElse(epoch), lineageCap)
      Manifest(
        version = m.map(_.version).getOrElse(0L) + 1,
        epochWatermark = epoch,
        lastSeq = math.max(m.map(_.lastSeq).getOrElse(-1L), maxSeq),
        schemaJson = evolvedSchemaJson(m),
        numBuckets = nb,
        bucketFn = LakeTable.BucketFn,
        keyCols = kc,
        renames = m.map(_.renames).getOrElse(Map.empty),
        files = m.map(_.files).getOrElse(Seq.empty) ++ newFiles,
        lineage = lin,
        lineageEpochFloor = linFloor,
        tombstoneGcVersion = m.map(_.tombstoneGcVersion).getOrElse(-1L))
    }

    // 4. CAS commit with re-base on loss: delta files are immutable and
    //    independent of concurrent commits, so losing the version slot
    //    just means re-pointing the manifest at the new head.
    var head = current
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      if (table.tryCommit(buildManifest(head)))
        return Some(MergeResult(committed = true,
          head.map(_.version).getOrElse(0L) + 1, events, rowsWritten,
          math.max(0L, events - rowsWritten), deletes, rowsWritten,
          bytesWritten, bucketsTouched))
      head = table.currentManifest
      // same epoch applied by a concurrent committer → our files orphan
      // (vacuum-able); a LATER epoch having overtaken an uncommitted one
      // is an ordering violation that must not silently drop this batch
      if (head.exists(h => epoch < h.lineageEpochFloor ||
          h.lineage.contains(s"epoch_$epoch"))) return None
      if (head.exists(_.epochWatermark >= epoch))
        throw new IllegalStateException(
          s"mergeEpoch($epoch): a concurrent commit advanced the " +
            s"watermark to ${head.get.epochWatermark} but epoch $epoch " +
            "itself never committed — refusing to orphan its events " +
            "(epochs must be committed in ascending order per table)")
    }
    throw new IllegalStateException(
      s"mergeEpoch($epoch): manifest CAS contention after $attempts attempts")
  }
}
