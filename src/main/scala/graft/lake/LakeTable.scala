package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Iceberg-style lake table implemented from scratch over Parquet + a
  * versioned JSON manifest log (SURVEY.md §4.3: no Iceberg jar exists in
  * this environment, so the needed subset is built in-house).
  *
  * Layout:
  * {{{
  *   <root>/_log/v00000001.json ...          // manifest per committed snapshot
  *   <root>/data/c<version>-<nonce>/bucket=N/part-*.parquet
  * }}}
  *
  * Storage model is '''delta-append + merge-on-read''' (the Hudi-MoR /
  * Iceberg-v2 shape): each ingested epoch appends one small DELTA commit
  * (only the batch's winning rows), and reads collapse base ∪ deltas with
  * latest-wins per key; [[Maintenance.compact]] folds deltas into a new
  * BASE tier asynchronously. This bounds per-epoch write amplification at
  * O(batch) instead of O(table) — the property that survives 10^10 events,
  * where copy-on-write at bucket grain rewrote nearly the whole table per
  * epoch under Zipf-skewed keys.
  *
  * Commit protocol (exactly-once, the answer to the reference's open
  * idempotency item /root/reference/Delphi/ArchitecturePlan.md:74):
  *  1. write immutable data files into a fresh uniquely-named commit dir
  *     (the nonce means two racing writers can never clobber each other's
  *     staging files);
  *  2. write manifest to a temp file;
  *  3. hard-link it to `v<N+1>.json` — an atomic compare-and-swap: a
  *     concurrent committer loses with FileAlreadyExistsException and must
  *     re-read the log. Delta commits are content-independent, so a CAS
  *     loser simply re-bases its manifest on the new head and retries —
  *     no data files are rewritten.
  * A crash between (1) and (3) leaves orphan data files that no manifest
  * references — harmless, reclaimable by vacuum (after a grace window).
  *
  * The manifest records per-bucket file lists with a base/delta tier tag
  * (partition pruning + compaction planning), the committed epoch/seq
  * watermark (resume point), the evolved schema, engine-level column
  * RENAME mappings (canonical name → former physical names, so old files
  * merge into the renamed column without rewrite — Iceberg column mapping
  * by alias rather than field id), the bucket-function identifier (a table
  * written under a different hash function fails fast instead of silently
  * mis-bucketing), and per-epoch lineage metrics (north_star).
  */
final case class ManifestFile(path: String, bucket: Int, rows: Long,
                              bytes: Long, tier: String)

final case class Manifest(
    version: Long,
    epochWatermark: Long,     // last fully-committed epoch (-1 = empty)
    lastSeq: Long,            // max seq merged (-1 = empty)
    schemaJson: String,       // Spark StructType JSON (evolves on merge)
    numBuckets: Int,
    bucketFn: String,         // identifies the bucket hash function
    keyCols: Seq[String],     // the table's merge key (a TABLE property)
    renames: Map[String, Seq[String]], // canonical col -> former names (newest first)
    files: Seq[ManifestFile],
    lineage: Map[String, String], // per-commit metrics: events, conflicts, bytes, ...
    lineageEpochFloor: Long = 0L, // epochs below this were truncated from
                                  // `lineage`; ascending-contiguous commit
                                  // order proves them committed (full
                                  // history survives in old manifests)
    tombstoneGcVersion: Long = -1L // version of the NEWEST compaction that
                                  // ran with a tombstone watermark
                                  // (monotone, -1 = never): tombstones it
                                  // dropped were committed at versions
                                  // <= tombstoneGcVersion - 1, so a
                                  // bootstrap consumer that applied the
                                  // source contiguously through at least
                                  // that version has applied every delete
                                  // that may be physically gone from head
                                  // state. Version-based on purpose: seqs
                                  // are NOT correlated with commit order
                                  // in this engine, so no seq high-water
                                  // mark can prove a specific delete was
                                  // applied (ChangeFeed guards on this)
) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  def deltaFiles: Seq[ManifestFile] = files.filter(_.tier == "delta")
  /** Feed-side alias map: former physical/feed name → canonical name. */
  def feedAliases: Map[String, String] =
    renames.flatMap { case (canon, formers) => formers.map(_ -> canon) }
}

object LakeTable {
  /** Identifier of [[MergeUpsert.bucketOf]]'s hash function. Recorded in
    * every manifest; opening a table written under a different function
    * throws instead of silently mis-bucketing (a changed hash would route
    * merge reads/writes to the wrong buckets with no error). */
  val BucketFn = "murmur3_pmod_v1"
}

class LakeTable(val root: String, defaultNumBuckets: Int,
                defaultKeyCols: Seq[String] = MergeUpsert.DefaultKeyCols) {
  private val mapper = new ObjectMapper()
  private def logDir: Path = Paths.get(root, "_log")
  private def dataDir: Path = Paths.get(root, "data")

  Files.createDirectories(logDir)
  Files.createDirectories(dataDir)

  /** Buckets are a TABLE property: once the first manifest is committed its
    * value wins; the constructor arg only seeds a fresh table. */
  def numBuckets: Int =
    currentManifest.map(_.numBuckets).getOrElse(defaultNumBuckets)

  /** Merge-key columns are a TABLE property like [[numBuckets]]: the source
    * table keys on `(repo, path)`, derived domain tables key on their own
    * business keys (e.g. `person_source_value`, `(repo, condition_group)`).
    * Recorded in every manifest; the constructor arg only seeds a fresh
    * table. */
  def keyCols: Seq[String] =
    currentManifest.map(_.keyCols).getOrElse(defaultKeyCols)

  // ---------------- manifest log ----------------

  private def versionPath(v: Long): Path = logDir.resolve(f"v$v%08d.json")

  def currentVersion: Long = {
    val vs = Using.resource(Files.list(logDir)) { s =>
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.substring(1, n.length - 5).toLong)
        .toSeq
    }
    if (vs.isEmpty) 0L else vs.max
  }

  def currentManifest: Option[Manifest] = {
    val v = currentVersion
    if (v == 0) None else Some(readManifest(v))
  }

  /** Whether manifest version `v` is still on disk (committed and not
    * vacuumed past the retention floor). */
  def hasVersion(v: Long): Boolean = Files.exists(versionPath(v))

  /** Manifest versions currently on disk, ascending — a contiguous suffix
    * of the commit history (vacuum drops a prefix). */
  def versionsOnDisk: Seq[Long] = {
    val vs = Using.resource(Files.list(logDir)) { s =>
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.substring(1, n.length - 5).toLong)
        .toSeq
    }
    vs.sorted
  }

  /** The LATEST retained manifest version whose epoch watermark is exactly
    * `epoch` — i.e. the table's most-compacted state as of that epoch
    * (logically identical to every other version at the same watermark:
    * maintenance commits change files, never content). None if the table
    * never committed that epoch or vacuum reclaimed every manifest at it.
    * Binary search over the on-disk versions: watermarks are
    * nondecreasing in version order. */
  def versionAtEpoch(epoch: Long): Option[Long] = {
    val vs = versionsOnDisk
    if (vs.isEmpty) return None
    // largest retained version with watermark <= epoch
    var lo = 0
    var hi = vs.length - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (readManifest(vs(mid)).epochWatermark <= epoch) { best = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (best >= 0 && readManifest(vs(best)).epochWatermark == epoch)
      Some(vs(best))
    else None
  }

  def readManifest(v: Long): Manifest = {
    val node = mapper.readTree(Files.readAllBytes(versionPath(v)))
    val m = Manifest(
      version = node.get("version").asLong(),
      epochWatermark = node.get("epochWatermark").asLong(),
      lastSeq = node.get("lastSeq").asLong(),
      schemaJson = node.get("schemaJson").asText(),
      numBuckets = node.get("numBuckets").asInt(),
      bucketFn = Option(node.get("bucketFn")).map(_.asText())
        .getOrElse(LakeTable.BucketFn),
      keyCols = Option(node.get("keyCols"))
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(MergeUpsert.DefaultKeyCols),
      renames = Option(node.get("renames")).map(_.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap).getOrElse(Map.empty),
      files = node.get("files").elements().asScala.map { f =>
        ManifestFile(f.get("path").asText(), f.get("bucket").asInt(),
          f.get("rows").asLong(), f.get("bytes").asLong(),
          Option(f.get("tier")).map(_.asText()).getOrElse("base"))
      }.toSeq,
      lineage = node.get("lineage").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap,
      lineageEpochFloor = Option(node.get("lineageEpochFloor"))
        .map(_.asLong()).getOrElse(0L),
      // legacy-key migration: a manifest written before the
      // tombstoneFloor→tombstoneGcVersion rename would deserialize -1
      // (missing key) and silently disable ChangeFeed.mirrorInto's
      // bootstrap tombstone-resurrection guard for tables that already
      // GC'd tombstones. A present legacy floor >= 0 maps conservatively
      // to THIS manifest's own version — the guard then refuses any
      // bootstrap that cannot prove it covers this manifest, which is
      // safe (refusals are the conservative direction; exact provenance
      // of the old GC is unknowable from the legacy field).
      tombstoneGcVersion = Option(node.get("tombstoneGcVersion"))
        .map(_.asLong())
        .orElse(Option(node.get("tombstoneFloor")).map(_.asLong())
          .filter(_ >= 0L).map(_ => node.get("version").asLong()))
        .getOrElse(-1L)
    )
    require(m.bucketFn == LakeTable.BucketFn,
      s"table $root was written with bucket function '${m.bucketFn}' but " +
        s"this engine uses '${LakeTable.BucketFn}' — refusing to read " +
        "(keys would silently land in wrong buckets); rewrite the table")
    m
  }

  /** Atomic CAS commit of the next manifest version. Returns false if a
    * concurrent committer won (caller re-reads and decides). */
  def tryCommit(m: Manifest): Boolean = {
    val node = mapper.createObjectNode()
    node.put("version", m.version)
    node.put("epochWatermark", m.epochWatermark)
    node.put("lastSeq", m.lastSeq)
    node.put("schemaJson", m.schemaJson)
    node.put("numBuckets", m.numBuckets)
    node.put("bucketFn", m.bucketFn)
    val kc = node.putArray("keyCols")
    m.keyCols.foreach(kc.add)
    val rn = node.putObject("renames")
    m.renames.foreach { case (canon, formers) =>
      val arr = rn.putArray(canon)
      formers.foreach(arr.add)
    }
    val arr = node.putArray("files")
    m.files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("bucket", f.bucket)
      fn.put("rows", f.rows); fn.put("bytes", f.bytes)
      fn.put("tier", f.tier)
    }
    val lin = node.putObject("lineage")
    m.lineage.foreach { case (k, v) => lin.put(k, v) }
    node.put("lineageEpochFloor", m.lineageEpochFloor)
    node.put("tombstoneGcVersion", m.tombstoneGcVersion)

    val tmp = Files.createTempFile(logDir, ".tmp-manifest", ".json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    // createLink is the CAS: atomic, fails if the version already exists.
    // (ATOMIC_MOVE is rename(2), which silently REPLACES an existing target
    // on POSIX — it is not a compare-and-swap.)
    try {
      Files.createLink(versionPath(m.version), tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); false
    }
  }

  // ---------------- schema evolution: engine-side column rename ----------

  /** Rename a canonical column WITHOUT rewriting any data file. The
    * mapping is recorded in the manifest: files written before the rename
    * keep their physical column and the read path coalesces
    * `(new-name, former-names...)` into the canonical column; change-feed
    * batches still using a former name are normalized by
    * [[MergeUpsert.mergeEpoch]] via [[Manifest.feedAliases]].
    *
    * The reference's observed drift this answers: columns renamed/added
    * mid-history (/root/reference/CNExT/cnext_person.sql:40,
    * /root/reference/Delphi/docs/project_notes/bugs.md:17-22). */
  def renameColumn(oldName: String, newName: String): Manifest = {
    var attempts = 0
    while (true) {
      attempts += 1
      val m = currentManifest.getOrElse(
        throw new IllegalStateException("cannot rename a column of an empty table"))
      val schema = m.schema
      val reserved = m.keyCols ++ Seq("updated_seq", "__deleted",
        "commit", "content_sha")
      require(!reserved.contains(oldName) && !reserved.contains(newName),
        s"cannot rename engine key/system column ($oldName -> $newName)")
      require(schema.fieldNames.contains(oldName), s"no column '$oldName'")
      require(!schema.fieldNames.contains(newName), s"column '$newName' exists")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      // chain: formers of old column trail behind the new canonical name
      val formerChain = oldName +: m.renames.getOrElse(oldName, Seq.empty)
      val renames = (m.renames - oldName) + (newName -> formerChain)
      val next = m.copy(version = m.version + 1,
        schemaJson = newSchema.json, renames = renames,
        lineage = m.lineage + (s"rename_v${m.version + 1}" -> s"$oldName->$newName"))
      if (tryCommit(next)) return next
      if (attempts > 100)
        throw new IllegalStateException("renameColumn: CAS contention")
    }
    sys.error("unreachable")
  }

  // ---------------- reads ----------------

  /** Requested physical schema: canonical columns plus, for every renamed
    * column, its former physical names (same type). Parquet-by-name read
    * fills whichever the file has; the others are NULL. */
  private def physicalSchema(m: Manifest): StructType = {
    val canon = m.schema
    val formers = m.renames.toSeq.flatMap { case (cName, formerNames) =>
      val t = canon(cName)
      formerNames.map(fn => StructField(fn, t.dataType, nullable = true))
    }
    StructType(canon.fields ++ formers)
  }

  /** Canonicalizing projection over a raw physical read: each renamed
    * column becomes coalesce(canonical, formers...) — exactly one of them
    * is non-null per row generation, so values survive the rename and a
    * genuinely-NULL value stays NULL. */
  private def canonicalize(m: Manifest, df: DataFrame): DataFrame = {
    if (m.renames.isEmpty) df
    else df.select(m.schema.fields.toIndexedSeq.map { f =>
      m.renames.get(f.name) match {
        case Some(formers) =>
          coalesce((f.name +: formers).map(col): _*).as(f.name)
        case None => col(f.name)
      }
    }: _*)
  }

  /** All stored row versions (base + deltas), canonical columns, WITHOUT
    * merge-on-read collapse. One physical scan, no shuffle. */
  def readRaw(spark: SparkSession, buckets: Option[Set[Int]] = None): DataFrame =
    currentManifest match {
      case None => spark.emptyDataFrame
      case Some(m) => readRawFrom(spark, m, buckets)
    }

  private def readRawFrom(spark: SparkSession, m: Manifest,
                          buckets: Option[Set[Int]]): DataFrame = {
    val files = buckets match {
      case Some(bs) => m.files.filter(f => bs.contains(f.bucket))
      case None => m.files
    }
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else
      canonicalize(m,
        spark.read.schema(physicalSchema(m)).parquet(files.map(_.path): _*))
  }

  private def readFrom(spark: SparkSession, m: Manifest,
                       buckets: Option[Set[Int]]): DataFrame = {
    graft.plans.PushSemiBelowCollapse.ensureInstalled(spark)
    val raw = readRawFrom(spark, m, buckets)
    if (m.deltaFiles.isEmpty || raw.columns.isEmpty) raw
    else MergeUpsert.latestPerKey(raw, Seq("updated_seq", "commit"), m.keyCols)
  }

  /** Current snapshot, merge-on-read: base ∪ deltas collapsed to the
    * winning row per key by (updated_seq, commit). Includes tombstone rows
    * (`__deleted = true`). When no deltas exist (just compacted) the base
    * already holds exactly one row per key and the collapse is skipped —
    * post-compaction reads pay zero aggregation. */
  def read(spark: SparkSession, buckets: Option[Set[Int]] = None): DataFrame =
    currentManifest match {
      case None => spark.emptyDataFrame
      case Some(m) => readFrom(spark, m, buckets)
    }

  /** TIME TRAVEL: the merged view as of manifest `version`. Every commit
    * is an immutable snapshot (data files are never mutated, only added),
    * so reading an old manifest reproduces the table exactly as it stood
    * then — bounded by vacuum's `retainVersions` floor, which deletes
    * both old manifests and the files only they reference. Throws if the
    * version has been vacuumed away. */
  def readAt(spark: SparkSession, version: Long,
             buckets: Option[Set[Int]] = None): DataFrame = {
    require(Files.exists(versionPath(version)),
      s"version $version of $root does not exist (never committed, or " +
        "vacuumed past the retention floor)")
    readFrom(spark, readManifest(version), buckets)
  }

  private def live(df: DataFrame): DataFrame =
    if (df.columns.contains("__deleted"))
      df.filter(!col("__deleted")).drop("__deleted")
    else df

  /** Live snapshot: merged rows minus delete tombstones. Tombstones are
    * retained physically (column `__deleted`) so a re-delivered pre-delete
    * event can never resurrect a deleted key — the CDC tombstone rule; the
    * event-time watermark only gates their GC (SURVEY.md §2.9 C5).
    * `buckets` prunes the scan to the named buckets — safe for any
    * key-restricted consumer because a key's every row version hashes to
    * exactly one bucket. */
  def snapshot(spark: SparkSession,
               buckets: Option[Set[Int]] = None): DataFrame =
    live(read(spark, buckets))

  /** Live snapshot as of manifest `version` ([[readAt]] time travel),
    * optionally bucket-pruned (same key-restricted-consumer safety rule as
    * [[snapshot]]). */
  def snapshotAt(spark: SparkSession, version: Long,
                 buckets: Option[Set[Int]] = None): DataFrame =
    live(readAt(spark, version, buckets))

  /** Point lookup: live rows of an explicit driver-side list of business
    * keys, scanning ONLY the buckets those keys hash to. Each element of
    * `keys` supplies one value per [[keyCols]] column, in order.
    *
    * The reference's consumers are full of patient-level point queries
    * (e.g. the per-MRN probes in Delphi/MSSQL_Vertica_Translations); at
    * 10^10 rows a point read must not list-and-scan the whole table. The
    * bucket of each key derives via the SAME Catalyst expression the
    * writer used ([[MergeUpsert.bucketOf]], identity pinned by the
    * manifest's `bucketFn` check), evaluated over a one-LocalRelation
    * plan — so k keys read at most k of [[numBuckets]] file groups and
    * the merge-on-read collapse runs over those buckets only. Pruning is
    * exact, not heuristic: a key's every row version hashes to one
    * bucket, so the pruned scan sees the key's full history (same safety
    * rule as [[snapshot]]'s `buckets` parameter). Equality is null-safe
    * (`<=>`), matching the writer's hash of null key components. */
  def lookupKeys(spark: SparkSession, keys: Seq[Seq[Any]]): DataFrame = {
    val kc = keyCols
    require(keys.nonEmpty, "lookupKeys: empty key list")
    require(keys.forall(_.size == kc.size),
      s"lookupKeys: each key must supply ${kc.size} value(s) for " +
        s"(${kc.mkString(", ")})")
    currentManifest match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        val (buckets, pred) = keyBucketsAndPred(spark, m, keys)
        snapshot(spark, Some(buckets)).filter(pred)
    }
  }

  /** The bucket set an explicit key list hashes to, and the null-safe
    * equality predicate selecting exactly those keys — the shared
    * derivation of [[lookupKeys]] and [[changesForKeys]]. The bucket
    * evaluates over a one-LocalRelation plan through the SAME Catalyst
    * expression the writer used. */
  private def keyBucketsAndPred(spark: SparkSession, m: Manifest,
      keys: Seq[Seq[Any]]): (Set[Int], Column) = {
    val kc = keyCols
    val keySchema = StructType(kc.map(c => m.schema(c)))
    // driver-side through the same Catalyst expression (the keys are
    // already local — no Spark job for <= numBuckets integers)
    val bucketFn = MergeUpsert.localBucketOf(keySchema, kc, numBuckets)
    val buckets = keys.iterator
      .map(k => bucketFn(org.apache.spark.sql.Row(k: _*))).toSet
    val pred = keys.map(k =>
      kc.zip(k).map { case (c, v) =>
        col(c) <=> org.apache.spark.sql.functions.lit(v)
      }.reduce(_ && _)).reduce(_ || _)
    (buckets, pred)
  }

  /** [[changesSince]] restricted to an explicit key list: the change
    * stream of just those keys over `(fromVersion, head]`, reading only
    * the interval's delta files in the buckets the keys hash to (exact
    * for the same reason as [[lookupKeys]] — a key's every row version
    * lands in one bucket). The key-restricted consumer contract is the
    * per-key slice of the full one: old per-key state + these changes
    * folds to [[lookupKeys]]' head state. */
  def changesForKeys(spark: SparkSession, fromVersion: Long,
                     keys: Seq[Seq[Any]]): DataFrame = {
    val kc = keyCols
    require(keys.nonEmpty, "changesForKeys: empty key list")
    require(keys.forall(_.size == kc.size),
      s"changesForKeys: each key must supply ${kc.size} value(s) for " +
        s"(${kc.mkString(", ")})")
    val head = currentVersion
    require(head > 0, s"$root has no commits")
    val (buckets, pred) = keyBucketsAndPred(spark, readManifest(head), keys)
    changesSince(spark, fromVersion, Some(buckets)).filter(pred)
  }

  /** CDC-OUT: the table read as a CHANGE STREAM — every row version
    * committed after manifest `fromVersion`, i.e. the per-epoch winner
    * rows (upserts AND `__deleted` tombstones) of every delta commit in
    * `(fromVersion, head]`. A downstream consumer holding `snapshotAt
    * (fromVersion)` reaches the head snapshot by folding these changes
    * with the same latest-wins collapse the engine uses — the contract
    * [[graft.TimeTravelSpec]] pins by digest.
    *
    * Implementation walks the manifest log and takes each version's
    * NEWLY-ADDED delta-tier files (compaction commits add only base
    * files and represent no logical change; a delta file later folded
    * away by compaction still belongs to the interval's change set and
    * remains on disk while its manifest is retained). Bounded like time
    * travel: vacuum's `retainVersions` floor reclaims old manifests and
    * the files only they reference.
    *
    * Renames: each version's files are canonicalized under THAT
    * version's own manifest (readAt's rule) and then mapped forward to
    * the head's canonical names via the rename mappings observed across
    * the interval. Normalizing everything against HEAD alone — the
    * previous implementation — silently read a renamed column as NULL
    * for pre-rename change files once a full compaction had cleared the
    * mapping from the head manifest; per-version canonicalization keeps
    * the stream exact across rename + compaction. A mapping that first
    * appears at version w is applied only to files added BEFORE w, so a
    * retired name legitimately re-introduced as a new column later is
    * never hijacked. */
  /** `buckets` prunes the interval's delta files to the named buckets
    * before any scan — safe for key-restricted consumers by the same
    * rule as [[snapshot]]'s parameter (a key's every row version hashes
    * to exactly one bucket); [[changesForKeys]] is the keyed wrapper. */
  def changesSince(spark: SparkSession, fromVersion: Long,
                   buckets: Option[Set[Int]] = None): DataFrame = {
    val head = currentVersion
    require(head > 0, s"$root has no commits")
    require(Files.exists(versionPath(fromVersion)),
      s"version $fromVersion of $root does not exist (never committed, " +
        "or vacuumed past the retention floor)")
    val headM = readManifest(head)
    var prev = readManifest(fromVersion).files.map(_.path).toSet
    // per-version added delta files + first version each alias was seen
    val groups = Seq.newBuilder[(Manifest, Seq[ManifestFile])]
    val aliasFirstSeen =
      scala.collection.mutable.Map.empty[String, (String, Long)]
    ((fromVersion + 1) to head).foreach { v =>
      val m = readManifest(v)
      m.feedAliases.foreach { case (former, canon) =>
        if (!aliasFirstSeen.contains(former))
          aliasFirstSeen(former) = (canon, v)
      }
      val added = m.files.filter(f => f.tier == "delta" &&
        !prev.contains(f.path) && buckets.forall(_.contains(f.bucket)))
      prev = m.files.map(_.path).toSet
      if (added.nonEmpty) groups += ((m, added))
    }
    // canonical name of column `name` from a version-`v` file, at head:
    // chase rename links that appeared AFTER v (a→b at w1, b→c at w2)
    def headName(name0: String, v: Long): String = {
      var name = name0
      var hops = 0
      while (hops <= aliasFirstSeen.size) {
        aliasFirstSeen.get(name) match {
          case Some((canon, w)) if w > v => name = canon; hops += 1
          case _ => return name
        }
      }
      name // cycle guard (unreachable: rename chains are acyclic)
    }
    val headFields = headM.schema.fieldNames.toSet
    val parts = groups.result()
      // one scan per distinct read shape, not per version: the shape is
      // fully determined by (schema, renames, the alias map applied)
      .groupBy { case (m, _) =>
        (m.schemaJson, m.renames,
          m.schema.fieldNames.map(n => n -> headName(n, m.version)).toMap)
      }
      .map { case ((_, _, toHead), grp) =>
        val m = grp.head._1
        val files = grp.flatMap(_._2)
        val df = canonicalize(m,
          spark.read.schema(physicalSchema(m)).parquet(files.map(_.path): _*))
        val renamed = toHead.foldLeft(df) { case (d, (from, to)) =>
          if (from != to) d.withColumnRenamed(from, to) else d
        }
        val unknown = renamed.columns.filterNot(headFields.contains)
        if (unknown.nonEmpty) throw new IllegalStateException(
          s"changesSince($fromVersion): version ${m.version} change files " +
            s"carry column(s) ${unknown.mkString(", ")} that map to no " +
            "head-schema column — rename lineage was lost for this " +
            "interval; fail-fast instead of streaming NULLs")
        // align to the head schema (older deltas lack later-evolved cols)
        renamed.select(headM.schema.fields.toIndexedSeq.map { f =>
          if (renamed.columns.contains(f.name)) col(f.name)
          else org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)
        }: _*)
      }
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], headM.schema)
    else parts.reduce(_.unionByName(_))
  }

  def lastCommittedEpoch: Long = currentManifest.map(_.epochWatermark).getOrElse(-1L)
  def lastSeq: Long = currentManifest.map(_.lastSeq).getOrElse(-1L)

  /** Fresh uniquely-named directory for a new commit's data files. The
    * nonce guarantees two concurrent writers targeting the same version
    * slot can never overwrite each other's files — the CAS on the manifest
    * decides the winner, and the loser's directory becomes a vacuum-able
    * orphan. */
  def newCommitDir(version: Long): Path = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    dataDir.resolve(f"c$version%08d-$nonce")
  }

  /** List parquet files written under a commit dir, keyed by bucket=N.
    * With `withRowCounts`, row counts come from the parquet footers
    * (metadata-only read, no data scan) on a dedicated bounded pool;
    * without it rows are -1 — the per-epoch delta path skips footer I/O
    * entirely (driver-serial time caps scaling efficiency). */
  def listCommitFiles(dir: Path, withRowCounts: Boolean = false): Seq[ManifestFile] = {
    if (!Files.exists(dir)) return Seq.empty
    val paths = Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    }
    def bucketOf(p: Path): Int = p.getParent.getFileName.toString match {
      case s if s.startsWith("bucket=") => s.substring(7).toInt
      case _ => 0
    }
    def tierOf(p: Path): String = "base" // caller re-tags deltas
    if (!withRowCounts) {
      paths.map(p => ManifestFile(p.toString, bucketOf(p), -1L,
        Files.size(p), tierOf(p)))
    } else {
      val conf = new org.apache.hadoop.conf.Configuration()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, paths.size)))
      try {
        val futures = paths.map { p =>
          pool.submit(new java.util.concurrent.Callable[ManifestFile] {
            def call(): ManifestFile = ManifestFile(p.toString, bucketOf(p),
              footerRowCount(p, conf), Files.size(p), tierOf(p))
          })
        }
        futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    }
  }

  private def footerRowCount(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Long =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }
}
