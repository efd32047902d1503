package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-shaped table commit protocol: atomic snapshot commits over plain
  * parquet data files.
  *
  * The reference guarantees per-doc atomicity with a temp-file + copy +
  * unlink dance (adsft/writer.py:40-124); Iceberg generalizes that to a
  * table-level atomic snapshot commit. This is the same shape, self-contained
  * (no Iceberg jars in the sandbox): data files land under `data/<uuid>/`,
  * visibility is governed ONLY by the committed manifest, and the commit is
  * a single atomic rename of the `_current` pointer.
  *
  * Layout:
  * {{{
  *   tableDir/
  *     data/<commit-uuid>/part-*.parquet   -- written by a normal Spark job
  *     manifests/manifest-<n>-<uuid>.tsv   -- path \t rows \t bytes per file
  *     _current                            -- name of the live manifest
  * }}}
  *
  * Crash safety: a job that dies after writing some/all data files but
  * before the pointer swap leaves stray files that NO reader ever sees —
  * rerunning the job (with [[Pipeline.resume]] against [[read]]) yields
  * exactly-once output. Per-file row counts come from parquet footers
  * (metadata-only, no data scan) and double as per-partition lineage
  * (SURVEY.md A5/W1; the manifest is the "committed work" record the
  * resume anti-join trusts).
  *
  * Works on any Hadoop filesystem with atomic rename (local posix, HDFS;
  * on S3 use a rename-atomic metadata store or Iceberg proper).
  */
object SnapshotTable {

  final case class FileEntry(path: String, rows: Long, bytes: Long, snapshot: Long)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append `df` as a new atomic snapshot. Returns the new snapshot id, or
    * the current one (-1 before the first commit) when `df` has no rows: a
    * zero-row append creates no snapshot.
    */
  def commit(df: DataFrame, tableDir: String): Long = append(df, tableDir, replace = false)

  /** [[commit]] only the rows of `df` whose `key` the table does not hold
    * yet, so a commit repeated after it already landed appends nothing.
    * The store-backed streaming stages commit their store deltas through
    * this.
    */
  private[graft] def commitNew(df: DataFrame, tableDir: String, key: String): Long =
    commit(read(df.sparkSession, tableDir)
      .fold(df)(t => df.join(t.select(key), Seq(key), "left_anti")), tableDir)

  /** Replace the table content with `df` (insert-overwrite semantics):
    * the new manifest lists only the new files; old data files become
    * unreferenced (snapshot history still names them).
    */
  def overwrite(df: DataFrame, tableDir: String): Long = append(df, tableDir, replace = true)

  /** `baseOverride`: the expected `_current` content captured when the
    * caller READ the state this commit is derived from ([[compact]]).
    * Without it the parent check uses the pointer as of step 3 — fine for
    * plain appends (they derive nothing from the read view beyond the
    * manifest they re-read here), but a read-rewrite-commit cycle must pin
    * the pointer it actually read or a commit landing during the rewrite
    * job would be silently clobbered.
    */
  private[spark] def append(df: DataFrame, tableDir: String, replace: Boolean,
      baseOverride: Option[Option[String]] = None): Long = synchronized {
    val spark = df.sparkSession
    val hfs = fs(spark, tableDir)
    val uuid = java.util.UUID.randomUUID().toString
    val dataDir = new Path(s"$tableDir/data/$uuid")

    // 1. data files via a normal parquet job (Spark's FileCommitProtocol
    //    makes the directory itself consistent; visibility still waits for
    //    the manifest swap below)
    df.write.parquet(dataDir.toString)

    // 2. per-file stats from parquet footers — metadata-only
    val newStats = hfs.listStatus(dataDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(s => (s.getPath.toString, footerRowCount(spark, s.getPath), s.getLen))

    // 3. next manifest = (previous ++ new) or just new (overwrite). The
    //    pointer name read HERE is the commit's expected parent — the swap
    //    below refuses to clobber a pointer someone else advanced meanwhile
    val basePointer = baseOverride.getOrElse(currentPointerName(hfs, tableDir))
    val (prevId, prevEntries) = currentManifest(spark, tableDir)
      .map { case (id, es) => (id, es) }.getOrElse((-1L, Seq.empty))
    // appending zero rows is a no-op (no new snapshot, on a fresh table
    // too): a rerun whose resume anti-join found nothing to add must not
    // advance table history, nor leave a data directory only vacuum reclaims
    if (!replace && newStats.forall(_._2 == 0L)) {
      hfs.delete(dataDir, true)
      return prevId
    }
    val snapshotId = prevId + 1
    val newEntries = newStats.map { case (p, r, b) => FileEntry(p, r, b, snapshotId) }
    val entries = (if (replace) Seq.empty else prevEntries) ++ newEntries
    val manifestName = f"manifest-$snapshotId%06d-$uuid.tsv"
    val manifestsDir = new Path(s"$tableDir/manifests")
    hfs.mkdirs(manifestsDir)
    writeFileAtomic(hfs, new Path(manifestsDir, manifestName),
      entries.map(e => s"${e.path}\t${e.rows}\t${e.bytes}\t${e.snapshot}").mkString("", "\n", "\n"))

    // 4. the commit point: atomic swap of the _current pointer, guarded by
    //    an optimistic parent check (cross-JVM writers; same-JVM writers are
    //    serialized by the `synchronized` above). A losing writer's data
    //    files become stray files no reader ever sees — rerun to retry.
    swapPointer(hfs, tableDir, basePointer, manifestName)
    snapshotId
  }

  /** Optimistic-concurrency pointer swap: refuses to commit when `_current`
    * no longer names `expected` (another writer advanced the table since
    * this commit read its base state — appending anyway would silently drop
    * that writer's files from the new manifest).
    *
    * The check-then-write runs under an exclusive `_commit.lock` acquired
    * by create-no-overwrite — atomic on HDFS (namenode-side EXCLUSIVE
    * create) and on local filesystems (`File.createNewFile`, an atomic
    * POSIX O_CREAT|O_EXCL) — a LEASE, not a perfect mutex: a lock left by
    * a crashed writer is broken by age (`lockTimeoutMs`, default 60 s —
    * far above any pointer-swap duration, which is metadata-only), and
    * acquisition gives up with a clear error after the same bound rather
    * than spinning forever. Two guards close the crash-recovery races of
    * the naive break (stat → delete could remove a FRESH lock that
    * replaced the stale one in between; a writer paused past its lease
    * could commit on a broken lock): (1) the breaker re-stats immediately
    * before deleting and only deletes the exact lock it observed stale
    * (same modification time); (2) every lock carries its owner's UUID
    * token, re-verified immediately before the pointer write and before
    * the release delete — a writer whose lease was broken aborts with the
    * standard retryable conflict instead of double-committing, and never
    * deletes a successor's lock. Object stores without atomic create
    * (classic S3) fall back to detection-only semantics — there Iceberg's
    * answer (a catalog CAS) is the production one, as before.
    */
  private[spark] def swapPointer(hfs: FileSystem, tableDir: String,
      expected: Option[String], newName: String,
      lockTimeoutMs: Long = 60000L): Unit = {
    val lock = new Path(s"$tableDir/_commit.lock")
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + lockTimeoutMs
    var held = false
    while (!held) {
      held = tryAcquireLock(hfs, lock, token)
      if (!held) {
        // break a stale lock by age; contenders then race on the atomic
        // create again — exactly one wins. The re-stat right before the
        // delete pins the delete to the EXACT lock observed stale: a
        // fresh lock created in between carries a newer mtime and
        // survives (the former stat→delete window deleted it).
        try {
          val st = hfs.getFileStatus(lock)
          if (System.currentTimeMillis() - st.getModificationTime > lockTimeoutMs) {
            val st2 = hfs.getFileStatus(lock)
            if (st2.getModificationTime == st.getModificationTime)
              hfs.delete(lock, false): Unit
          }
        } catch { case _: java.io.FileNotFoundException => () }
        if (!held && System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"could not acquire commit lock $lock within ${lockTimeoutMs}ms; " +
              "another writer is mid-commit or a stale lock is younger than the timeout")
        if (!held) Thread.sleep(25)
      }
    }
    try {
      val now = currentPointerName(hfs, tableDir)
      if (now != expected)
        throw new java.util.ConcurrentModificationException(
          s"snapshot commit conflict on $tableDir: expected _current=" +
            s"${expected.getOrElse("<none>")} but found ${now.getOrElse("<none>")}; " +
            "another writer committed concurrently — re-run to retry on the new base")
      // fencing check: the lock must still carry OUR token (a pause past
      // the lease bound lets another writer break and re-acquire it;
      // committing anyway could silently drop that writer's manifest)
      if (!lockOwner(hfs, lock).contains(token))
        throw new java.util.ConcurrentModificationException(
          s"commit lock $lock was broken and re-acquired while this writer " +
            "was paused past the lease timeout — aborting before the pointer " +
            "write; re-run to retry on the new base")
      writeFileAtomic(hfs, new Path(s"$tableDir/_current"), newName + "\n")
    } finally {
      // release only our OWN lock — after a lost lease the current lock
      // file belongs to the writer that broke ours
      if (lockOwner(hfs, lock).contains(token))
        hfs.delete(lock, false): Unit
    }
  }

  /** The owner token inside a lock file; None when missing/unreadable
    * (treated as "not ours" by both fencing call sites).
    */
  private def lockOwner(hfs: FileSystem, lock: Path): Option[String] =
    try Some(readFile(hfs, lock).trim) catch { case _: java.io.IOException => None }

  /** One atomic create-no-overwrite attempt; false when the lock exists.
    * Local paths go through `File.createNewFile` (atomic O_CREAT|O_EXCL —
    * Hadoop's RawLocalFileSystem.create is check-then-act and would race);
    * everything else uses the filesystem's own exclusive create. The
    * winner writes its `token` into the lock right after creation (the
    * EXISTENCE is the exclusivity; the token is the ownership fence the
    * swapPointer call sites re-verify).
    */
  private def tryAcquireLock(hfs: FileSystem, lock: Path, token: String): Boolean =
    if (hfs.getScheme == "file") {
      val f = new java.io.File(lock.toUri.getPath)
      f.getParentFile.mkdirs()
      try {
        val won = f.createNewFile()
        if (won) java.nio.file.Files.write(f.toPath,
          token.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        won
      } catch { case _: java.io.IOException => false }
    } else {
      try {
        val out = hfs.create(lock, false)
        try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  private def currentPointerName(hfs: FileSystem, tableDir: String): Option[String] = {
    val ptr = new Path(s"$tableDir/_current")
    if (hfs.exists(ptr)) Some(readFile(hfs, ptr).trim) else None
  }

  /** The committed view: only manifest-listed files. None before the first
    * commit. Stray data files from a crashed job are never read.
    *
    * Planning the scan launches no Spark job: the schema comes from one
    * data file's footer, read on the driver ([[scan]]).
    */
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] =
    currentManifest(spark, tableDir).map { case (_, entries) => scan(spark, entries) }

  /** The listed files as one DataFrame. The schema is the Spark row
    * metadata in the first file's footer, so `spark.read` skips its
    * schema-inference job. Every data file of a table is written by a Spark
    * job, so a footer without that key is an error.
    */
  private def scan(spark: SparkSession, entries: Seq[FileEntry]): DataFrame =
    if (entries.isEmpty) spark.emptyDataFrame
    else {
      val file = new Path(entries.head.path)
      val json = withFooter(spark, file)(_.getFileMetaData.getKeyValueMetaData.get(SparkRowMetadataKey))
      if (json == null) throw new java.io.IOException(
        s"$file has no $SparkRowMetadataKey footer key; table data files are written by Spark")
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
        .parquet(entries.map(_.path): _*)
    }

  /** The footer key under which Spark's parquet writer stores the row schema. */
  private[spark] val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** URI string -> path, scheme and authority dropped, ENCODING PRESERVED —
    * the COLUMN twin of the Scala-side `new Path(uri).toUri.getRawPath`
    * used on the manifest side of [[readCurrent]]'s join. Handles both
    * authority URIs ("hdfs://nn:8020/x" -> "/x", "s3a://bucket/x" -> "/x" —
    * scheme may contain digits) and no-authority forms ("file:/x" -> "/x").
    * Both join sides MUST normalize identically or the join silently drops
    * files; [[readCurrent]] additionally fails loudly on any unmatched file.
    */
  private def normalizePathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    regexp_replace(
      regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""),
      "^[A-Za-z][A-Za-z0-9+.-]*:", "")
  }

  /** Merge-on-read view: one row per `keyCol`, keeping the row committed by
    * the HIGHEST snapshot — a retried doc's success row supersedes its
    * earlier error-channel row (cf. [[Pipeline.runCommitted]]'s
    * retry-failures resume). This is the read-side half of row-level upsert:
    * one extra shuffle on the key, the same cost shape as an Iceberg
    * merge-on-read scan, with the per-file snapshot attribution coming from
    * manifest metadata (broadcast — no extra data pass). Use [[read]] when
    * the raw append history is wanted, [[compact]] to fold retry history
    * back to one snapshot.
    *
    * File attribution joins on `_metadata.file_path` (the scan's own record
    * of the source file) with BOTH sides normalized by the same
    * scheme/authority-stripping rule; an unmatched file raises an error at
    * scan time instead of silently dropping rows. Duplicate keys within one
    * snapshot resolve deterministically ((_file, _metadata.row_index)
    * tiebreak), though the writer contract is at-most-one-row-per-key-per-
    * commit.
    */
  def readCurrent(spark: SparkSession, tableDir: String,
      keyCol: String = "doc_id"): Option[DataFrame] =
    currentManifest(spark, tableDir).map { case (_, entries) =>
      if (entries.isEmpty) spark.emptyDataFrame
      else {
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val df = scan(spark, entries)
        // getRawPath, NOT getPath: _metadata.file_path is URI-ENCODED
        // ("/a b" renders "/a%20b"), so the manifest side must stay encoded
        // too or a table path with a space/percent/non-ASCII char would
        // match nothing (verified empirically: raw-vs-raw agrees for
        // space, '+', and %-escapes; decode-vs-raw does not)
        val fileSnap = entries
          .map(e => (new Path(e.path).toUri.getRawPath, e.snapshot))
          .toDF("_file", "_snapshot")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol)
          .orderBy(col("_snapshot").desc, col("_file"), col("_ridx"))
        df.withColumn("_file", normalizePathCol(col("_metadata.file_path")))
          .withColumn("_ridx", col("_metadata.row_index"))
          .join(broadcast(fileSnap), Seq("_file"), "left")
          // a file the manifest cannot attribute means the two normalizations
          // diverged (or a stray file leaked into the read) — silent data
          // loss in the retry/supersede view. Fail loudly, at scan time.
          .withColumn("_snapshot",
            when(col("_snapshot").isNull,
              raise_error(concat(lit("readCurrent: data file not in manifest: "),
                col("_file"))))
              .otherwise(col("_snapshot")))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .drop("_file", "_ridx", "_snapshot", "_rn")
      }
    }

  /** Fold retry/supersede history into one snapshot: rewrites the
    * [[readCurrent]] view as a single overwrite commit so the read-side
    * merge cost stops growing with append history. The commit is atomic
    * (same pointer-swap protocol), prior manifests stay on disk as history,
    * and the per-file lineage of the compacted snapshot lands in the new
    * manifest. Returns the new snapshot id, or -1 when there is nothing to
    * compact (no table, or a single-snapshot table is already compact).
    */
  def compact(spark: SparkSession, tableDir: String,
      keyCol: String = "doc_id"): Long =
    currentManifest(spark, tableDir) match {
      case None => -1L
      case Some((_, entries)) if entries.map(_.snapshot).distinct.size <= 1 => -1L
      case Some(_) =>
        // data files are immutable, so the rewrite can read the live view
        // while writing the new files; visibility flips only at the swap.
        // The base pointer is captured HERE — the same moment the view is
        // read — and threaded through to the swap's parent check, so a
        // commit landing during the (potentially long) rewrite job makes
        // the compact REFUSE instead of silently dropping that commit's
        // rows from the new manifest.
        val hfs = fs(spark, tableDir)
        val base = currentPointerName(hfs, tableDir)
        readCurrent(spark, tableDir, keyCol)
          .map(v => append(v, tableDir, replace = true, baseOverride = Some(base)))
          .getOrElse(-1L)
    }

  /** Commit history: (snapshot id, manifest name), ascending. Every commit
    * leaves its manifest on disk (until [[vacuum]]), so the full lineage of
    * the table is enumerable from metadata alone.
    */
  def history(spark: SparkSession, tableDir: String): Seq[(Long, String)] = {
    val hfs = fs(spark, tableDir)
    val dir = new Path(s"$tableDir/manifests")
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".tsv"))
      .map(n => (n.stripPrefix("manifest-").take(6).toLong, n))
      .sortBy(_._1)
  }

  /** Time travel: the table as of snapshot `snapshotId` — the view a
    * [[read]] at that commit returned. Metadata-only resolution (one
    * manifest read, one footer read, no Spark job); data files are
    * immutable so the historical view is exact until [[vacuum]] reclaims
    * it. None when the snapshot never existed or its manifest has been
    * vacuumed.
    */
  def readAt(spark: SparkSession, tableDir: String, snapshotId: Long): Option[DataFrame] = {
    val hfs = fs(spark, tableDir)
    history(spark, tableDir).find(_._1 == snapshotId).map { case (_, name) =>
      scan(spark, parseManifest(
        readFile(hfs, new Path(s"$tableDir/manifests/$name")), snapshotId, name))
    }
  }

  /** Reclaim storage: drop manifests older than the newest `keepLast`
    * snapshots, then delete data files no RETAINED manifest references.
    * Returns (data files deleted, manifests deleted).
    *
    * Two safety rails, both needed at scale:
    *  - the live manifest is always retained (`keepLast >= 1` enforced), so
    *    [[read]]/[[readCurrent]] are never touched — vacuum only trades
    *    HISTORY ([[readAt]] beyond the horizon) for space;
    *  - only files older than `olderThanMs` are deleted (Iceberg's
    *    orphan-file rule): a concurrent writer between its data-file write
    *    and its pointer swap has files referenced by NO manifest yet, and
    *    the age guard is what keeps vacuum from eating that in-flight
    *    commit. Run with a horizon comfortably above the longest commit
    *    (default 7 days); 0 only in single-writer tests.
    */
  def vacuum(spark: SparkSession, tableDir: String, keepLast: Int = 1,
      olderThanMs: Long = 7L * 24 * 3600 * 1000): (Int, Int) = synchronized {
    require(keepLast >= 1, "vacuum must retain at least the live snapshot")
    val hfs = fs(spark, tableDir)
    val all = history(spark, tableDir)
    if (all.isEmpty) return (0, 0)
    val cutoffId = all.map(_._1).max - (keepLast - 1)
    val deadline = System.currentTimeMillis() - olderThanMs
    val (drop, keep) = all.partition(_._1 < cutoffId)
    // union of every retained manifest's file set — a file named by ANY
    // kept snapshot survives
    val referenced = keep.flatMap { case (id, name) =>
      parseManifest(readFile(hfs, new Path(s"$tableDir/manifests/$name")), id, name)
        .map(e => new Path(e.path).toUri.getRawPath)
    }.toSet
    val dataRoot = new Path(s"$tableDir/data")
    var filesDeleted = 0
    if (hfs.exists(dataRoot)) {
      for (commitDir <- hfs.listStatus(dataRoot).toSeq if commitDir.isDirectory) {
        val children = hfs.listStatus(commitDir.getPath).toSeq
        // only parquet data files are candidates — job markers (_SUCCESS)
        // ride with their directory and go when the last data file goes
        for (f <- children if f.isFile && f.getPath.getName.endsWith(".parquet")
             if !referenced.contains(f.getPath.toUri.getRawPath)
             if f.getModificationTime < deadline) {
          if (hfs.delete(f.getPath, false)) filesDeleted += 1
        }
        // a commit dir holding no parquet anymore is only markers: reclaim
        // it whole (age-guarded by its own mtime-newest child)
        val remaining = hfs.listStatus(commitDir.getPath).toSeq
        if (!remaining.exists(_.getPath.getName.endsWith(".parquet")) &&
            remaining.forall(_.getModificationTime < deadline))
          hfs.delete(commitDir.getPath, true): Unit
      }
    }
    var manifestsDeleted = 0
    for ((_, name) <- drop) {
      val p = new Path(s"$tableDir/manifests/$name")
      if (hfs.getFileStatus(p).getModificationTime < deadline && hfs.delete(p, false))
        manifestsDeleted += 1
    }
    (filesDeleted, manifestsDeleted)
  }

  /** Per-file lineage of the live snapshot: (file, rows, bytes). */
  def lineage(spark: SparkSession, tableDir: String): Seq[FileEntry] =
    currentManifest(spark, tableDir).map(_._2).getOrElse(Seq.empty)

  /** Total committed row count — pure manifest metadata, no data scan. */
  def committedRows(spark: SparkSession, tableDir: String): Long =
    lineage(spark, tableDir).map(_.rows).sum

  // ------------------------------------------------------------------ intern

  private def currentManifest(spark: SparkSession,
      tableDir: String): Option[(Long, Seq[FileEntry])] = {
    val hfs = fs(spark, tableDir)
    val ptr = new Path(s"$tableDir/_current")
    if (!hfs.exists(ptr)) None
    else {
      val name = readFile(hfs, ptr).trim
      val id = name.stripPrefix("manifest-").take(6).toLong
      val entries = parseManifest(
        readFile(hfs, new Path(s"$tableDir/manifests/$name")), id, name)
      Some((id, entries))
    }
  }

  private def parseManifest(content: String, id: Long, name: String): Seq[FileEntry] =
    content.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        // current format: path \t rows \t bytes \t snapshot
        case Array(p, r, b, s) => FileEntry(p, r.toLong, b.toLong, s.toLong)
        // legacy pre-snapshot-column format (path \t rows \t bytes):
        // attribute every file to the manifest's own id so old tables
        // stay readable AND appendable (merge-on-read sees one snapshot,
        // which matches what the legacy format could express)
        case Array(p, r, b) => FileEntry(p, r.toLong, b.toLong, id)
        case other => throw new java.io.IOException(
          s"malformed manifest line (${other.length} fields) in $name: $line")
      }
    }

  private def footerRowCount(spark: SparkSession, file: Path): Long =
    withFooter(spark, file)(_.getRecordCount)

  private def withFooter[T](spark: SparkSession, file: Path)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(file, spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(reader) finally reader.close()
  }

  private def writeFileAtomic(hfs: FileSystem, dest: Path, content: String): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = hfs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val scheme = dest.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // posix rename(2): atomic REPLACE — a reader sees old or new, never
      // neither (Hadoop's LocalFileSystem.rename can't overwrite)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } else {
      // HDFS: rename is atomic but not overwriting; the delete->rename gap
      // is the documented HDFS caveat (use Iceberg proper, which CASes the
      // pointer in the catalog, for multi-writer object stores)
      if (hfs.exists(dest)) hfs.delete(dest, false)
      if (!hfs.rename(tmp, dest))
        throw new java.io.IOException(s"atomic commit rename failed: $tmp -> $dest")
    }
  }

  private def readFile(hfs: FileSystem, p: Path): String = {
    val in = hfs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }
}
