package graft.sources

import java.util.UUID

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned parquet tables: the offline stand-in for the reference's
  * `delta` source (MLSQLDelta.scala:14-178 — read/write, time travel,
  * streaming upsert target; MLSQLMultiDelta.scala:33-120 — CDC MERGE by
  * idCols). No Delta jar exists in this environment, so this is a
  * from-scratch re-design of the capability set on plain parquet plus a
  * tiny manifest log — NOT a Delta-protocol implementation:
  *
  *  - layout: `table/_vlog/v%016d.json` manifests + `table/data/<commit>/`
  *    parquet files. A manifest lists the data files (with their hash
  *    bucket when bucketed) that make up one immutable snapshot.
  *  - commit = write data files, then create the next manifest with
  *    create-exclusive semantics: two racing writers cannot both claim
  *    version N+1 — the loser gets a clear concurrent-write error and no
  *    torn state (readers only ever see fully-written manifests).
  *  - snapshot isolation: a reader resolves its manifest ONCE, then reads
  *    only files that manifest names; concurrent commits never mutate or
  *    delete them (vacuum is the explicit, retention-bounded exception).
  *  - time travel: `versionAsOf` / `timestampAsOf` pick an older manifest.
  *  - keyed MERGE: upsert by `idCols`. With `numBuckets`, rows live in
  *    pmod(xxhash64(keys), n) buckets recorded per file in the manifest,
  *    and a merge REWRITES ONLY the buckets the batch touches while the
  *    new manifest carries the untouched files forward by reference —
  *    per-batch cost is |touched buckets| × bucket size, not table size.
  *    That reference-not-copy carry-forward is what makes this layout
  *    survive 100 TB CDC.
  *
  * Concurrency: the create-exclusive manifest makes every commit atomic,
  * and every commit goes through one loop ([[commit]]). Bucketed merges
  * and compactions add OPTIMISTIC retry on top — a writer that loses the
  * version claim re-reads the new head and, if the interleaved commits
  * didn't touch the files it read, rebases its already-written data
  * files onto the next version (so CDC writers sharded by key range run
  * concurrently). Overlapping writers and other commits keep the loud
  * single-writer error. Schema is assumed stable across versions.
  */
object VParquet {

  /** A manifest-version claim lost to another writer. Subclasses
    * IllegalStateException so pre-existing callers that caught the
    * single-writer error still do.
    */
  final class ConcurrentWriteException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  /** `size`/`stats` are recorded at commit time (file length from the
    * commit-dir listing; min/max/null/row counts from the parquet footer)
    * so snapshot reads plan with ZERO per-file filesystem calls and
    * selective filters prune files at the manifest (see [[DataSkipping]]).
    * Both are absent (0 / None) on manifests written before the fields
    * existed — readers fall back gracefully.
    */
  case class FileEntry(path: String, bucket: Int, size: Long = 0L,
                       stats: Option[DataSkipping.FileStats] = None)
  /** `keyCols` records the merge keys so maintenance operations (compact)
    * can recompute bucket assignments without the caller re-supplying
    * them; empty for unkeyed tables. `txn` is the streaming micro-batch id
    * that produced this commit (None for batch commits) — the sink uses it
    * to recognize an at-least-once re-delivery and skip the duplicate.
    * `txnAppId` scopes that marker to one writer identity (the sink uses
    * its checkpoint location): micro-batch ids restart at 0 for every new
    * query, so an UNSCOPED id would make a second stream's first batch
    * look like a re-delivery of the first stream's (same idempotence
    * contract as Delta's txnAppId/txnVersion).
    *
    * `txnSeen` is the accumulated (appId -> newest txn) ledger carried
    * forward by every commit, so the re-delivery check reads ONE manifest
    * instead of walking the log — crucial for writer identities that
    * never committed (e.g. a fresh appId per batch), where proving
    * absence used to cost O(versions) per commit and quadratic over a
    * store's lifetime. It also survives vacuum, which deletes the old
    * manifests the walk relied on. `txnSeenOk` marks the ledger
    * complete-since-table-creation; manifests written before the field
    * existed leave it false, and the first commit on such a table folds
    * the retained log into the ledger once (upgrade-on-write).
    */
  case class Manifest(version: Long, op: String, ts: Long, numBuckets: Int,
                      files: Seq[FileEntry], keyCols: Seq[String] = Seq.empty,
                      txn: Option[Long] = None, txnAppId: Option[String] = None,
                      schemaJson: Option[String] = None,
                      txnSeen: Map[String, Long] = Map.empty,
                      txnSeenOk: Boolean = false)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    // older manifests may lack newer fields and vice versa — evolve forward
    .configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vlogDir(table: String) = new Path(table + "/_vlog")
  private def manifestPath(table: String, v: Long) =
    new Path(vlogDir(table), f"v$v%016d.json")

  private def versions(f: FileSystem, table: String): Seq[Long] = {
    val dir = vlogDir(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption)
      .sorted
  }

  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    versions(fs(spark, table), table).lastOption

  /** One `_vlog` listing and the manifest at its head, read once per
    * commit and handed to everything that asks about the head (bucket
    * default, re-delivery check, rebase); on an object store each listing
    * is a LIST and each manifest read a GET.
    */
  private final case class Head(versions: Seq[Long], manifest: Option[Manifest]) {
    def latest: Option[Long] = versions.lastOption
  }

  private def readHead(spark: SparkSession, table: String): Head = {
    val vs = versions(fs(spark, table), table)
    Head(vs, vs.lastOption.map(readManifest(spark, table, _)))
  }

  def readManifest(spark: SparkSession, table: String, v: Long): Manifest = {
    val in = fs(spark, table).open(manifestPath(table, v))
    val m = try mapper.readValue(in: java.io.InputStream, classOf[Manifest])
    finally in.close()
    // Jackson leaves missing AnyRef fields null on pre-field manifests
    val m2 = if (m.keyCols == null) m.copy(keyCols = Seq.empty) else m
    // erasure: Jackson materializes Option[Long] as Option[Integer] for
    // small values — normalize to Long or any numeric unboxing CCEs
    val m3 =
      if (m2.txn == null) m2.copy(txn = None)
      else m2.copy(txn = m2.txn.asInstanceOf[Option[Any]]
        .map { case n: java.lang.Number => n.longValue })
    val m4 = if (m3.txnAppId == null) m3.copy(txnAppId = None) else m3
    val m5 = if (m4.schemaJson == null) m4.copy(schemaJson = None) else m4
    // pre-ledger manifests: null map (and Jackson Integers for small longs)
    val m6 =
      if (m5.txnSeen == null) m5.copy(txnSeen = Map.empty)
      else m5.copy(txnSeen = m5.txnSeen.asInstanceOf[Map[String, Any]].map {
        case (k, n: java.lang.Number) => k -> n.longValue
      })
    m6.copy(files = m6.files.map { e =>
      if (e.stats == null) e.copy(stats = None)
      else e.copy(stats = e.stats.map(DataSkipping.normalize))
    })
  }

  /** Unscoped markers (txnAppId = None, the pre-appId single-writer
    * contract) live in the ledger under this key — appIds are paths, so
    * the empty string can't collide with a real identity.
    */
  private def seenKey(txnAppId: Option[String]): String = txnAppId.getOrElse("")

  /** Multi-writer-safe re-delivery check: scan manifests NEWEST-first for
    * this writer identity's most recent marker and compare batch ids.
    * Checking only the latest manifest's own marker is wrong once
    * concurrent writers exist — another writer's commit landing after
    * ours would bury our marker and a crash-replayed micro-batch would
    * commit twice. The txnSeen ledger keeps this O(1): every new-format
    * commit carries the full (appId -> newest txn) map, so the scan
    * answers at the head both when the appId IS there (compare) and when
    * it ISN'T but the ledger is complete (never committed) — absent
    * appIds no longer force a full-log walk. Only pre-ledger manifests
    * fall through to older versions (driver-side JSON reads, no Spark
    * jobs, and upgraded away by the next commit).
    */
  private def alreadyCommittedAnyVersion(spark: SparkSession, table: String, head: Head,
                                         txn: Option[Long],
                                         txnAppId: Option[String]): Boolean =
    txn match {
      case Some(t) =>
        val key = seenKey(txnAppId)
        val older = head.versions.reverseIterator.drop(1).map(v => readManifest(spark, table, v))
        (head.manifest.iterator ++ older)
          .map { m =>
            if (m.txnAppId == txnAppId && m.txn.isDefined)
              Some(m.txn.exists(_ >= t))
            else m.txnSeen.get(key) match {
              case Some(hw) => Some(hw >= t)
              case None if m.txnSeenOk => Some(false)
              case None => None // pre-ledger manifest: keep walking
            }
          }
          .collectFirst { case Some(answer) => answer }
          .getOrElse(false)
      case None => false
    }

  /** The (ledger, complete?) pair the NEXT commit should carry: the head's
    * ledger plus this commit's own marker. A pre-ledger head triggers a
    * one-time fold of every retained manifest (markers vacuumed before the
    * upgrade are gone either way — the old walk couldn't see them either);
    * afterwards the ledger is complete and every commit is O(1).
    */
  private def nextTxnSeen(spark: SparkSession, table: String,
                          prev: Option[Manifest], txn: Option[Long],
                          txnAppId: Option[String]): (Map[String, Long], Boolean) = {
    val base: Map[String, Long] = prev match {
      case None => Map.empty
      case Some(h) if h.txnSeenOk => h.txnSeen
      case Some(_) =>
        val acc = collection.mutable.Map[String, Long]()
        def fold(k: String, v: Long): Unit =
          acc(k) = math.max(v, acc.getOrElse(k, Long.MinValue))
        versions(fs(spark, table), table).foreach { ver =>
          val m = readManifest(spark, table, ver)
          m.txn.foreach(fold(seenKey(m.txnAppId), _))
          m.txnSeen.foreach { case (k, v) => fold(k, v) }
        }
        acc.toMap
    }
    val withOwn = txn match {
      case Some(t) =>
        val k = seenKey(txnAppId)
        base + (k -> math.max(t, base.getOrElse(k, Long.MinValue)))
      case None => base
    }
    (withOwn, true)
  }

  /** The one optimistic commit loop: claim the version after `head` with
    * `build(head)`, stamped with that version and the rebased txn ledger.
    * With `rebase = None` a lost claim throws. With `Some(conflict)` the
    * loser re-reads the new head: if this writer's txn is already there it
    * returns that version, if `conflict(newHead)` names a reason it throws,
    * otherwise it rebuilds on the new head and retries (8 attempts).
    */
  private[sources] def commit(spark: SparkSession, table: String, head: Option[Manifest],
                              txn: Option[Long], txnAppId: Option[String],
                              rebase: Option[Manifest => Option[String]])
                             (build: Option[Manifest] => Manifest): Long = {
    var base = head
    var attempts = 0
    while (true) {
      val v = base.map(_.version + 1).getOrElse(0L)
      val (seen, seenOk) = nextTxnSeen(spark, table, base, txn, txnAppId)
      try {
        writeManifest(spark, table,
          build(base).copy(version = v, txnSeen = seen, txnSeenOk = seenOk))
        return v
      } catch {
        case e: ConcurrentWriteException =>
          attempts += 1
          val conflict = rebase.getOrElse(throw e)
          if (attempts > 8) throw e
          val h = readHead(spark, table)
          val lm = h.manifest.getOrElse(throw e)
          if (alreadyCommittedAnyVersion(spark, table, h, txn, txnAppId)) return h.latest.get
          conflict(lm).foreach(why => throw new ConcurrentWriteException(why, e))
          base = Some(lm)
      }
    }
    -1L // unreachable
  }

  private def inBuckets(touched: Set[Int])(f: FileEntry): Boolean =
    f.bucket < 0 || touched.contains(f.bucket) // unbucketed files hold any key

  /** A bucketed merge rebases iff the new head keeps the bucket count and
    * every file the merge READ (`read`: its touched buckets + unbucketed
    * files): its rewrite is then still valid, so writers on disjoint
    * buckets both commit (multi-writer CDC sharded by key range).
    */
  private[sources] def mergeRebase(table: String, n: Int, touched: Set[Int],
                                   read: Seq[FileEntry]): Manifest => Option[String] =
    lm => if (lm.numBuckets == n && lm.files.filter(inBuckets(touched)).toSet == read.toSet) None
      else Some(s"vparquet: concurrent write on $table touched this merge's " +
        s"buckets (${touched.toSeq.sorted.mkString(",")}) or changed " +
        "the bucket layout — cannot rebase; retry the merge against " +
        "the new snapshot")

  /** A compaction rebases iff the interleaved commits only ADDED files
    * (appends): every file it read is still in the new head. Anything that
    * replaced files (merge, overwrite, another compact) aborts.
    */
  private[sources] def compactRebase(table: String, base: Manifest): Manifest => Option[String] = {
    val basePaths = base.files.map(_.path).toSet
    lm => if (lm.numBuckets == base.numBuckets && basePaths.subsetOf(lm.files.map(_.path).toSet)) None
      else Some(s"vparquet: a concurrent commit replaced files of $table while it " +
        "was being compacted — re-run the compaction against the new snapshot")
  }

  /** Claim version `v` atomically. The manifest is FULLY WRITTEN to a temp
    * file first and only then renamed (no-overwrite) to its final name, so
    * a concurrent reader can never observe a half-written manifest — the
    * file either doesn't exist or is complete. A failed rename = another
    * writer claimed the version first.
    */
  private[sources] def writeManifest(spark: SparkSession, table: String, m: Manifest): Unit = {
    val f = fs(spark, table)
    f.mkdirs(vlogDir(table))
    val tmp = new Path(vlogDir(table), s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, /*overwrite=*/ true)
    try out.write(mapper.writeValueAsBytes(m)) finally out.close()
    val p = manifestPath(table, m.version)
    // Rename.NONE = fail if the destination exists (atomic claim on HDFS;
    // on object stores / local FS the window is the FS's rename semantics,
    // which the single-writer regime covers)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(table).toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.NONE)
    } catch {
      case e: java.io.IOException =>
        f.delete(tmp, false)
        throw new ConcurrentWriteException(
          s"vparquet: concurrent write detected on $table (version ${m.version} " +
            "already claimed) — bucketed merges on disjoint buckets rebase and " +
            "retry automatically; other operations must be retried by the caller", e)
    }
  }

  /** Write `df` into a fresh commit dir; returns manifest entries.
    * `bucketed=Some(n)` partitions by a `__bucket__` column that must
    * already be on `df` — partitionBy keeps it OUT of the data files, so
    * readers see the clean schema and the bucket only lives in the path.
    */
  private def writeData(df: DataFrame, table: String,
                        bucketed: Boolean): Seq[FileEntry] = {
    val commit = "data/" + UUID.randomUUID().toString
    val dir = table + "/" + commit
    if (bucketed) df.write.partitionBy("__bucket__").parquet(dir)
    else df.write.parquet(dir)
    val f = fs(df.sparkSession, table)
    val base = f.makeQualified(new Path(dir)).toString
    val it = f.listFiles(new Path(dir), /*recursive=*/ true)
    val entries = scala.collection.mutable.ArrayBuffer[FileEntry]()
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet")) {
        val parent = st.getPath.getParent.getName
        val bucket =
          if (parent.startsWith("__bucket__=")) parent.stripPrefix("__bucket__=").toInt
          else -1
        // qualify BOTH sides through the same fs so scheme/authority agree;
        // a prefix mismatch must fail the commit, not corrupt the manifest
        val q = f.makeQualified(st.getPath).toString
        require(q.startsWith(base),
          s"vparquet: listed file $q is outside its commit dir $base")
        entries += FileEntry(commit + q.stripPrefix(base), bucket, st.getLen,
          DataSkipping.fromFooter(
            df.sparkSession.sparkContext.hadoopConfiguration, st.getPath))
      }
    }
    entries.toSeq
  }

  /** Resolve a manifest entry's path against its table dir. Entries are
    * normally table-relative; a [[shallowClone]] records ABSOLUTE source
    * paths — fully-qualified URIs (`file:/...`, `s3a://bucket/...`) since
    * r15, bare leading-'/' strings from older clones — which resolve
    * as-is: one rule shared by every reader (snapshot, change feed,
    * skipping index, compact, vacuum). A scheme-qualified entry keeps its
    * filesystem, so a clone read from a different default FS still
    * resolves against the right one (ADVICE r14: `.toUri.getPath` used to
    * drop the scheme/authority and the entry re-resolved against the
    * table's FS).
    */
  private[sources] def entryPath(table: String, p: String): String =
    if (p.startsWith("/") || isSchemeQualified(p)) p
    else table + "/" + p

  /** True only for genuinely scheme-qualified filesystem URIs. A bare
    * relative name whose FIRST segment happens to contain a colon
    * (`part:0.parquet`) must stay table-relative (ADVICE r15: a prefix
    * regex alone treated it as absolute) — so the colon must precede the
    * first '/', java.net.URI must parse a scheme out of it, AND the URI
    * must be hierarchical (`file:/x`, `s3a://b/x`): `part:0.parquet`
    * parses as an OPAQUE absolute URI, which no filesystem scheme is.
    */
  private def isSchemeQualified(p: String): Boolean = {
    val colon = p.indexOf(':')
    val slash = p.indexOf('/')
    colon > 0 && (slash < 0 || colon < slash) &&
      (try {
        val u = new java.net.URI(p)
        u.isAbsolute && !u.isOpaque && u.getScheme != null
      } catch { case _: java.net.URISyntaxException => false })
  }

  private def absFiles(table: String, files: Seq[FileEntry]): Seq[String] =
    files.map(f => entryPath(table, f.path))

  private def recordedSchema(m: Manifest): Option[StructType] =
    m.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** `m`'s recorded schema; a legacy manifest without one falls back to
    * footer inference over its files (the only case that runs a footer job).
    */
  private[sources] def schemaOf(spark: SparkSession, table: String, m: Manifest): StructType =
    recordedSchema(m).getOrElse(spark.read.parquet(absFiles(table, m.files): _*).schema)

  /** Read `files` of `m`'s snapshot typed by `m`'s recorded schema, so a
    * column added by a `mergeSchema` append reads back from the files that
    * have it (and null from older files) whichever file Spark lists first.
    * Legacy manifests without a schema infer from `files`.
    */
  private def readFiles(spark: SparkSession, table: String, m: Manifest,
                        files: Seq[FileEntry]): DataFrame =
    recordedSchema(m).fold(spark.read)(spark.read.schema).parquet(absFiles(table, files): _*)

  /** Recorded in the manifest so readers plan without touching any file.
    * Nullable-widened: parquet reads always surface nullable columns.
    */
  private def schemaJsonOf(df: DataFrame): Option[String] =
    Some(StructType(
      df.schema.filterNot(_.name == "__bucket__").map(_.copy(nullable = true))).json)

  /** Append-time schema reconciliation (Delta's mergeSchema semantics).
    * Same name must mean same type — always a hard error otherwise. Added
    * or missing columns are rejected unless `mergeSchema`; with it, the
    * manifest records the UNION schema (old columns first, new appended,
    * all nullable) and the parquet reader surfaces nulls for columns a
    * given file predates — no rewrite of old files, ever.
    */
  private def reconcileSchema(prevJson: Option[String], df: DataFrame,
                              mergeSchema: Boolean, table: String): Option[String] = {
    val next = StructType(df.schema.filterNot(_.name == "__bucket__")
      .map(_.copy(nullable = true)))
    prevJson match {
      case None => Some(next.json) // legacy table without a recorded schema
      case Some(j) =>
        val prev = DataType.fromJson(j).asInstanceOf[StructType]
        val prevByName = prev.map(f => f.name -> f).toMap
        next.foreach { f =>
          prevByName.get(f.name).foreach { pf =>
            require(pf.dataType == f.dataType,
              s"vparquet: column '${f.name}' of $table is ${pf.dataType.simpleString} " +
                s"but the appended batch has ${f.dataType.simpleString} — changing a " +
                "column's type requires rewriting the table (overwrite)")
          }
        }
        val added = next.filterNot(f => prevByName.contains(f.name))
        val missing = prev.filterNot(f => next.fieldNames.contains(f.name))
        if (added.isEmpty && missing.isEmpty) Some(prev.json)
        else {
          require(mergeSchema,
            s"vparquet: appended batch schema differs from $table " +
              s"(added: ${added.map(_.name).mkString(", ")}; missing: " +
              s"${missing.map(_.name).mkString(", ")}) — pass mergeSchema=\"true\" " +
              "to evolve the table schema to the union")
          Some(StructType(prev ++ added).json)
        }
    }
  }

  private def requireNoReservedCols(df: DataFrame): Unit =
    require(!df.columns.contains("__bucket__"),
      "vparquet: '__bucket__' is a reserved column name (it carries the " +
        "hash-bucket layout) — rename the column before writing")

  /** Plain overwrite/append commit (no keys). Returns the committed
    * version — or the already-committed version unchanged when `txn` is
    * given and the latest manifest already carries it (at-least-once
    * streaming re-delivery).
    *
    * An append onto a bucketed table keeps the manifest's numBuckets (so a
    * later merge still hard-errors on a bucket-count mismatch); the
    * appended files themselves are tagged unbucketed and every merge reads
    * them unconditionally.
    */
  def write(df: DataFrame, table: String, overwrite: Boolean,
            txn: Option[Long] = None, txnAppId: Option[String] = None,
            clusterBy: Seq[String] = Seq.empty, numFiles: Int = 0,
            mergeSchema: Boolean = false): Long = {
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val head = readHead(spark, table)
    val prevManifest = head.manifest
    if (alreadyCommittedAnyVersion(spark, table, head, txn, txnAppId))
      return head.latest.get // this micro-batch already committed — skip duplicate
    // range-cluster before writing so per-file min/max on clusterBy cols
    // are disjoint and the manifest skipping actually prunes
    val laid =
      if (clusterBy.isEmpty) df
      else ZOrder.cluster(df, clusterBy,
        if (numFiles > 0) numFiles
        else spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val newFiles = writeData(laid, table, bucketed = false)
    val (carry, nb, keyCols) = prevManifest match {
      case Some(m) if !overwrite => (m.files, m.numBuckets, m.keyCols)
      case _ => (Seq.empty[FileEntry], -1, Seq.empty[String])
    }
    val schema =
      if (overwrite || prevManifest.isEmpty) schemaJsonOf(df)
      else reconcileSchema(prevManifest.get.schemaJson, df, mergeSchema, table)
    commit(spark, table, prevManifest, txn, txnAppId, rebase = None) { _ =>
      Manifest(0L, if (overwrite) "overwrite" else "append", System.currentTimeMillis(),
        nb, carry ++ newFiles, keyCols, txn, txnAppId, schema)
    }
  }

  /** Keyed upsert commit. Without `numBuckets`: read-all, anti-join,
    * full rewrite (correct anywhere, O(table) per merge). With
    * `numBuckets=n`: rewrite only touched buckets; files of other buckets
    * are carried forward by reference. Unbucketed files in the current
    * snapshot (from plain appends / a layout change) are always read and
    * re-bucketed, so a bucketed merge also converges the table to the
    * bucketed layout.
    *
    * `adoptBuckets` (the keyed sink's default) makes a missing
    * `numBuckets` the head's recorded bucket count, or 64 when the head
    * records none ([[resolveBuckets]]).
    */
  def merge(batch: DataFrame, table: String, idCols: Seq[String],
            numBuckets: Option[Int], orderCol: Option[String],
            txn: Option[Long] = None, txnAppId: Option[String] = None,
            adoptBuckets: Boolean = false): Long = {
    requireNoReservedCols(batch)
    val spark = batch.sparkSession
    val head = readHead(spark, table)
    val prev = head.latest
    val current = head.manifest
    if (alreadyCommittedAnyVersion(spark, table, head, txn, txnAppId))
      return prev.get // re-delivered micro-batch — already committed
    val buckets = if (adoptBuckets) Some(resolveBuckets(current, numBuckets)) else numBuckets
    current.filter(_.numBuckets > 0).zip(buckets).foreach { case (m, n) =>
      require(m.numBuckets == n,
        s"vparquet: $table is bucketed with numBuckets=${m.numBuckets}; " +
          s"cannot merge with numBuckets=$n (rows would be located in the wrong bucket)")
    }
    val deduped = newestPerKey(batch.toDF(), idCols, orderCol)
    // An empty batch must not commit an empty (unreadable) first snapshot;
    // it is a no-op: the current version on an existing table, -1 (nothing
    // committed) on a brand-new one — important for streams whose first
    // micro-batch is empty. The bucketed path detects this from the
    // touched-bucket collect it needs anyway (no extra Spark job).
    val oldFiles = current.map(_.files).getOrElse(Seq.empty)
    def mergeManifest(nb: Int, files: Seq[FileEntry]) = Manifest(0L, "merge",
      System.currentTimeMillis(), nb, files, idCols, txn, txnAppId, schemaJsonOf(deduped))
    buckets match {
      case Some(n) =>
        val bucketOf = pmod(xxhash64(idCols.map(col): _*), lit(n)).cast("int")
        val batchB = deduped.withColumn("__bucket__", bucketOf).persist()
        try {
          val touched = batchB.select("__bucket__").distinct()
            .collect().map(_.getInt(0)).toSet
          if (touched.isEmpty) return prev.getOrElse(-1L)
          val inScope = oldFiles.filter(inBuckets(touched))
          val merged =
            if (inScope.isEmpty) batchB
            else readFiles(spark, table, current.get, inScope)
              .withColumn("__bucket__", bucketOf)
              .join(batchB.select(idCols.map(col): _*), idCols, "left_anti")
              .unionByName(batchB)
          // co-locate each bucket in one task → one file per touched
          // bucket per merge, not shuffle-partitions × buckets small files
          val newFiles = writeData(
            merged.repartition(math.max(1, touched.size), col("__bucket__")),
            table, bucketed = true)
          // the head's files outside this merge's scope are carried forward
          // by reference — also after a rebase onto a newer head
          commit(spark, table, current, txn, txnAppId,
            Some(mergeRebase(table, n, touched, inScope))) { h =>
            mergeManifest(n, h.map(_.files).getOrElse(Seq.empty)
              .filterNot(inBuckets(touched)) ++ newFiles)
          }
        } finally batchB.unpersist()
      case None =>
        if (deduped.isEmpty) return prev.getOrElse(-1L)
        val merged =
          if (oldFiles.isEmpty) deduped
          else readFiles(spark, table, current.get, oldFiles)
            .join(deduped.select(idCols.map(col): _*), idCols, "left_anti")
            .unionByName(deduped)
        val newFiles = writeData(merged, table, bucketed = false)
        commit(spark, table, current, txn, txnAppId, rebase = None)(_ =>
          mergeManifest(-1, newFiles))
    }
  }

  /** Within-batch winner per key: by `orderCol` descending when given
    * (e.g. a binlog offset / event timestamp — the reliable CDC ordering);
    * without it, falls back to monotonically_increasing_id, which orders
    * by Spark partition index — fine for single-partition test batches,
    * NOT a cross-partition arrival order. Always set orderCol in real CDC.
    */
  private def newestPerKey(batch: DataFrame, idCols: Seq[String],
                           orderCol: Option[String]): DataFrame = {
    val ord = orderCol.map(col).getOrElse(monotonically_increasing_id())
    batch
      .withColumn("__ord__", ord)
      .withColumn("__max__", max(col("__ord__")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCols.map(col): _*)))
      .filter(col("__ord__") === col("__max__")).drop("__ord__", "__max__")
      .dropDuplicates(idCols)
  }

  /** The bucket count a keyed sink merges with: an explicit numBuckets
    * wins (a mismatch with the table's recorded layout is a loud error in
    * the merge); otherwise adopt the head's recorded count, or 64 on a
    * fresh table.
    */
  private def resolveBuckets(head: Option[Manifest], numBuckets: Option[Int]): Int =
    numBuckets.orElse(head.map(_.numBuckets).filter(_ > 0)).getOrElse(64)

  /** Rewrite the latest snapshot into ~`targetFileSizeMB`-sized files as a
    * new version (the CDC small-file cure: every merge adds files to the
    * touched buckets; compaction folds them back down). Bucket layout and
    * key columns are preserved — buckets are recomputed from the manifest's
    * recorded keyCols, so callers don't re-supply them. Old versions remain
    * time-travelable until vacuumed.
    */
  def compact(spark: SparkSession, table: String, targetFileSizeMB: Int,
              zorderBy: Seq[String] = Seq.empty): Long = {
    require(targetFileSizeMB > 0, "targetFileSizeMB must be positive")
    val prev = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"vparquet: $table has no committed versions"))
    val m = readManifest(spark, table, prev)
    require(m.files.nonEmpty, s"vparquet: version $prev of $table has no data files")
    require(zorderBy.isEmpty || m.numBuckets <= 0,
      s"vparquet: $table is bucketed by ${m.keyCols.mkString(",")} — its file " +
        "layout is key-driven; zorder applies to unbucketed tables")
    lazy val f = fs(spark, table)
    def sizeOf(e: FileEntry): Long =
      if (e.size > 0) e.size
      else f.getFileStatus(new Path(entryPath(table, e.path))).getLen

    val newManifestFiles: Seq[FileEntry] =
      if (m.numBuckets > 0) {
        require(m.keyCols.nonEmpty,
          s"vparquet: $table is bucketed but its manifest records no keyCols; re-merge once to upgrade it")
        val df = readFiles(spark, table, m, m.files)
        val bucketOf = pmod(xxhash64(m.keyCols.map(col): _*), lit(m.numBuckets)).cast("int")
        // one output partition per bucket → one file per bucket dir
        val rebucketed = df.withColumn("__bucket__", bucketOf)
          .repartition(m.numBuckets, col("__bucket__"))
        writeData(rebucketed, table, bucketed = true)
      } else {
        // SELECTIVE compaction (size only the unbucketed branch — the
        // bucketed one is shaped by bucket count): only files under half
        // the target are rewritten; right-sized files carry forward by
        // reference, so the cost of a compaction cycle is proportional to
        // the small-file backlog, not the table. A zorder rewrite is a
        // LAYOUT change and always takes the whole snapshot.
        val target = targetFileSizeMB * 1024L * 1024
        val (smallFiles, keep) =
          if (zorderBy.nonEmpty) (m.files, Seq.empty[FileEntry])
          else m.files.partition(e => sizeOf(e) < target / 2)
        if (smallFiles.size <= 1 && zorderBy.isEmpty)
          return prev // nothing to fold — no empty commit
        val df = readFiles(spark, table, m, smallFiles)
        val totalBytes = smallFiles.map(sizeOf).sum
        val parts = math.max(1L, (totalBytes + target - 1) / target).toInt
        val laid =
          if (zorderBy.isEmpty) df.repartition(parts)
          else ZOrder.layout(df, zorderBy, parts)
        keep ++ writeData(laid, table, bucketed = false)
      }

    // a rebase onto a head that appended files carries those files and the
    // head's schema (which may have evolved under mergeSchema appends); the
    // commit also carries the txn ledger, since compact+vacuum deletes the
    // old manifests the re-delivery walk would otherwise find markers in
    val basePaths = m.files.map(_.path).toSet
    commit(spark, table, Some(m), None, None, Some(compactRebase(table, m))) { h =>
      val head = h.get
      Manifest(0L, "compact", System.currentTimeMillis(), m.numBuckets,
        newManifestFiles ++ head.files.filterNot(x => basePaths.contains(x.path)),
        m.keyCols, schemaJson = head.schemaJson.orElse(m.schemaJson))
    }
  }

  /** Version `v`'s manifest narrowed to the data files it ADDED over v-1
    * (sorted by path) — the per-version step of both the batch changes
    * read and the streaming change feed. None when `v` adds nothing, and
    * for compact commits: they rewrite files without changing data, and
    * emitting them would re-deliver the whole table per compaction (Delta
    * marks these dataChange=false and its source skips them). A vacuumed
    * v-1 diffs against nothing, so every file of `v` counts as added —
    * each caller decides whether that start is allowed.
    */
  private[sources] def changesOf(spark: SparkSession, table: String, v: Long): Option[Manifest] = {
    val manifest = readManifest(spark, table, v)
    if (manifest.op == "compact") return None
    val prev =
      if (v == 0) Set.empty[String]
      else try readManifest(spark, table, v - 1).files.map(_.path).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    val added = manifest.files.filterNot(e => prev.contains(e.path)).sortBy(_.path)
    if (added.isEmpty) None else Some(manifest.copy(files = added))
  }

  /** Batch CHANGES read: the rows of data files ADDED in versions
    * [from, to], tagged `_commit_version` — the batch twin of the
    * streaming change feed (same emission semantics: appends contribute
    * exactly their rows, merges their rewritten buckets). Delta's
    * startingVersion/endingVersion batch read, on the manifest log.
    */
  def loadChanges(spark: SparkSession, table: String, from: Long, to: Long): DataFrame = {
    val f = fs(spark, table)
    val all = versions(f, table)
    require(all.nonEmpty, s"vparquet: $table has no committed versions")
    require(from <= to, s"vparquet: startingVersion $from > endingVersion $to")
    val range = all.filter(v => v >= from && v <= to)
    require(range.length == to - from + 1,
      s"vparquet: versions [$from, $to] of $table are not all present " +
        s"(have ${all.mkString(", ")}) — vacuumed or never committed")
    // `from`'s additions are computed by diffing against from-1; with that
    // manifest vacuumed the diff would silently degrade to "every carried
    // file is new" and re-deliver the whole table as version `from`'s
    // changes. The streaming source opts into that as its documented
    // initial-snapshot start; the batch API refuses loudly instead.
    require(from == 0 || all.contains(from - 1),
      s"vparquet: version ${from - 1} of $table is vacuumed, so the changes " +
        s"of version $from cannot be computed — start from an un-vacuumed " +
        "version, or read a full snapshot via versionAsOf instead")
    // stats-pruned scan of just each version's added files: a filtered
    // change read (e.g. one key range) skips non-matching files per version
    val perVersion = range.flatMap(v => changesOf(spark, table, v).map(m =>
      VParquetScan.scan(spark, table, m).withColumn("_commit_version", lit(v))))
    perVersion.reduceOption(_ unionByName _).getOrElse {
      val schema = schemaOf(spark, table, readManifest(spark, table, all.last))
        .add("_commit_version", "long")
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
  }

  /** Snapshot read; `versionAsOf` wins over `timestampAsOf` (latest
    * manifest committed at or before the timestamp — millis or
    * "yyyy-MM-dd HH:mm:ss[.f]").
    */
  def loadVersion(spark: SparkSession, table: String,
                  versionAsOf: Option[Long],
                  timestampAsOf: Option[String]): DataFrame = {
    val f = fs(spark, table)
    val all = versions(f, table)
    require(all.nonEmpty, s"vparquet: $table has no committed versions")
    val v = versionAsOf match {
      case Some(x) =>
        require(all.contains(x),
          s"vparquet: $table has no version $x (have ${all.mkString(", ")})")
        x
      case None => timestampAsOf match {
        case Some(t) =>
          val millis = Try(t.toLong)
            .getOrElse(java.sql.Timestamp.valueOf(t).getTime)
          val eligible = all.map(readManifest(spark, table, _))
            .filter(_.ts <= millis)
          require(eligible.nonEmpty,
            s"vparquet: no version of $table existed at or before $t")
          eligible.map(_.version).max
        case None => all.last
      }
    }
    // skipping scan: files with manifest stats refuting the query's
    // filters are pruned before task planning (VParquetSkipping.scala)
    VParquetScan.scan(spark, table, readManifest(spark, table, v))
  }

  /** One row per data file of the latest (or given) snapshot, with its
    * recorded size/rows/stats — the observability surface for data
    * skipping (Delta's DESCRIBE DETAIL + per-file stats, as a table).
    */
  def detail(spark: SparkSession, table: String, versionAsOf: Option[Long]): DataFrame = {
    import spark.implicits._
    val all = versions(fs(spark, table), table)
    require(all.nonEmpty, s"vparquet: $table has no committed versions")
    val v = versionAsOf.getOrElse(all.last)
    val m = readManifest(spark, table, v)
    m.files.map { e =>
      val st = e.stats
      (m.version, e.path, e.bucket, e.size,
        st.map(_.numRecords).getOrElse(-1L),
        st.map(s => mapper.writeValueAsString(s.minValues)).orNull,
        st.map(s => mapper.writeValueAsString(s.maxValues)).orNull,
        st.map(s => mapper.writeValueAsString(s.nullCounts)).orNull)
    }.toDF("version", "file", "bucket", "size_bytes", "num_rows",
      "min_values", "max_values", "null_counts")
      .orderBy("file")
  }

  /** One row per committed version (the `!vtable history` surface). */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, table)
    // txn/txn_app_id surface the streaming sink's exactly-once markers so
    // an operator can audit which micro-batch of which writer produced each
    // version (`!vtable history` is the operational entry point; batch
    // commits show null for both).
    versions(f, table).map(readManifest(spark, table, _))
      .map(m => (m.version, m.op,
        new java.sql.Timestamp(m.ts), m.numBuckets, m.files.size,
        m.txn, m.txnAppId))
      .toDF("version", "op", "ts", "num_buckets", "n_files",
        "txn", "txn_app_id")
      .orderBy(desc("version"))
  }

  /** Drop manifests older than the newest `retainVersions` and delete
    * every data file no retained manifest references (this also collects
    * orphans from commits that crashed before claiming a manifest).
    * Returns (#manifests dropped, #data files deleted).
    */
  /** RESTORE the table head to the state of `version` — the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` analog as a pure MANIFEST
    * commit: the new head references the target version's data files
    * unchanged (zero data movement, O(files) metadata at any table
    * size), every intermediate version stays time-travelable, and the
    * txn re-delivery ledger carries forward from the CURRENT head (a
    * restore rolls back data, not exactly-once markers — a re-delivered
    * batch absorbed before the restore must stay absorbed after it).
    * The change feed shows nothing for the restore commit, consistent
    * with compact: only ADDED files emit changes, and a restore adds
    * none. Fails loudly if the target's files were removed out-of-band
    * (a retained manifest's files are never vacuumed, so this guard is
    * defense against manual deletion). Returns the new head version;
    * restoring to the current head is a no-op returning it.
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val f = fs(spark, table)
    val head = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"vparquet: $table has no committed versions"))
    require(version >= 0 && version <= head,
      s"vparquet: cannot restore $table to version $version (head is $head)")
    if (version == head) return head
    val target = readManifest(spark, table, version) // loud if vacuumed away
    val missing = target.files.filterNot(e => f.exists(new Path(entryPath(table, e.path))))
    require(missing.isEmpty,
      s"vparquet: cannot restore $table to version $version — ${missing.size} of its " +
        s"data files no longer exist (first: ${missing.headOption.map(_.path).getOrElse("")})")
    commit(spark, table, Some(readManifest(spark, table, head)), None, None, rebase = None) { _ =>
      Manifest(0L, "restore", System.currentTimeMillis(), target.numBuckets,
        target.files, target.keyCols, schemaJson = target.schemaJson)
    }
  }

  /** SHALLOW CLONE: create `dst` as a zero-copy snapshot of `src` at
    * `versionAsOf` (default head) — Delta's `CREATE TABLE ... SHALLOW
    * CLONE` analog: dst's v0 manifest records the source data files by
    * ABSOLUTE path, so the clone costs O(files) metadata at any table
    * size and then evolves independently (appends/merges write local
    * files; a later `compact` folds the absolute refs into local files,
    * which is also how a clone is re-materialized into a standalone
    * copy). Hazard shared with Delta: vacuuming the SOURCE can delete
    * files a clone still references — vacuum only protects files under
    * its own table dir. Returns dst's version (0).
    */
  def shallowClone(spark: SparkSession, src: String, dst: String,
                   versionAsOf: Option[Long] = None): Long = {
    val f = fs(spark, src)
    val head = latestVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(s"vparquet: $src has no committed versions"))
    val v = versionAsOf.getOrElse(head)
    require(v >= 0 && v <= head,
      s"vparquet: cannot clone $src at version $v (head is $head)")
    require(latestVersion(spark, dst).isEmpty,
      s"vparquet: clone target $dst already has committed versions")
    // metadata ops on the clone (restore existence checks, vacuum's
    // referenced-set scan) run through the DST table's FileSystem handle,
    // so a cross-FS clone would throw "Wrong FS" on first touch — fail
    // loudly at clone time instead
    val dstFs = fs(spark, dst)
    require(f.getUri == dstFs.getUri,
      s"vparquet: shallow clone requires src and dst on one FileSystem " +
        s"(got ${f.getUri} vs ${dstFs.getUri}); materialize with save/compact instead")
    val m = readManifest(spark, src, v)
    val absolute = m.files.map { e =>
      // FULLY-QUALIFIED URI (scheme + authority + path): `.toUri.getPath`
      // would drop the scheme, and a clone of an s3a://-backed table would
      // re-resolve its entries against the default FS (ADVICE r14)
      val abs = f.makeQualified(new Path(entryPath(src, e.path))).toString
      e.copy(path = abs)
    }
    // a fresh table carries NO txn ledger: the clone is a new writer
    // surface, and inheriting the source's re-delivery markers would
    // silently drop the first batches of a stream re-pointed at the clone
    commit(spark, dst, None, None, None, rebase = None) { _ =>
      Manifest(0L, "clone", System.currentTimeMillis(), m.numBuckets, absolute,
        m.keyCols, schemaJson = m.schemaJson)
    }
  }

  def vacuum(spark: SparkSession, table: String, retainVersions: Int): (Int, Int) = {
    require(retainVersions >= 1, "vparquet vacuum must retain >= 1 version")
    val f = fs(spark, table)
    val all = versions(f, table)
    require(all.nonEmpty, s"vparquet: $table has no committed versions")
    val (drop, keep) = all.splitAt(math.max(0, all.size - retainVersions))
    val referenced = keep.flatMap(v => readManifest(spark, table, v).files)
      .map(e => f.makeQualified(new Path(entryPath(table, e.path))).toString).toSet
    var deleted = 0
    val dataDir = new Path(table + "/data")
    if (f.exists(dataDir)) {
      val it = f.listFiles(dataDir, /*recursive=*/ true)
      val victims = scala.collection.mutable.ArrayBuffer[Path]()
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
            !referenced.contains(f.makeQualified(st.getPath).toString))
          victims += st.getPath
      }
      victims.foreach { p => if (f.delete(p, false)) deleted += 1 }
      // sweep now-empty commit dirs (ignore failures — next vacuum retries)
      f.listStatus(dataDir).foreach { d =>
        if (d.isDirectory && !f.listFiles(d.getPath, true).hasNext)
          f.delete(d.getPath, true)
      }
    }
    drop.foreach(v => f.delete(manifestPath(table, v), false))
    (drop.size, deleted)
  }
}

/** `load vparquet.`path` [where versionAsOf="2" | timestampAsOf="..." |
  * action="history"]` / `save overwrite|append t as vparquet.`path`
  * [where idCols="k1,k2" and numBuckets="64" and orderCol="ts"]`.
  * With idCols the save is a keyed MERGE regardless of mode.
  */
final class VParquetSource extends GraftSource {
  override def shortName = "vparquet"

  override def load(ctx: graft.dsl.ScriptContext, path: String,
                    opts: Map[String, String]): DataFrame = {
    val table = ctx.resolvePath(path)
    opts.get("action") match {
      case Some("history") => VParquet.history(ctx.spark, table)
      case Some("detail") => VParquet.detail(ctx.spark, table,
        opts.get("versionAsOf").map(_.toLong))
      case Some(other) => throw new IllegalArgumentException(
        s"vparquet load action '$other' not supported (history, detail)")
      // batch changes read: BOTH bounds given (startingVersion alone is the
      // STREAMING change feed, dispatched before the registry — see
      // StreamSources.loadIfStreaming)
      case None if opts.contains("endingVersion") =>
        val to = opts("endingVersion").toLong
        VParquet.loadChanges(ctx.spark, table,
          opts.get("startingVersion").map(_.toLong).getOrElse(0L), to)
      case None => VParquet.loadVersion(ctx.spark, table,
        opts.get("versionAsOf").map(_.toLong), opts.get("timestampAsOf"))
    }
  }

  override def save(ctx: graft.dsl.ScriptContext, df: DataFrame,
                    mode: org.apache.spark.sql.SaveMode, path: String,
                    opts: Map[String, String], partitionBy: Seq[String]): Unit = {
    require(partitionBy.isEmpty,
      "vparquet does not support partitionBy — use numBuckets for layout")
    val table = ctx.resolvePath(path)
    opts.get("idCols") match {
      case Some(ks) => VParquet.merge(df, table, ks.split(",").map(_.trim).toSeq,
        opts.get("numBuckets").map(_.toInt), opts.get("orderCol"))
      case None => VParquet.write(df, table,
        overwrite = mode == org.apache.spark.sql.SaveMode.Overwrite,
        clusterBy = opts.get("clusterBy").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        numFiles = opts.get("fileNum").map(_.toInt).getOrElse(0),
        mergeSchema = opts.get("mergeSchema").exists(_.toBoolean))
    }
  }
}
