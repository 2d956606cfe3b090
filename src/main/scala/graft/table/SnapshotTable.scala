package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Iceberg-style snapshot table layer, from scratch (SURVEY.md §7.1 —
  * no iceberg runtime jar offline): each commit writes a new immutable
  * data directory plus a snapshot JSON manifest, then atomically swaps
  * the `current` pointer. Readers resolve `current` → snapshot → data
  * paths, so a crashed writer can never expose partial output — the
  * same "no checkpoint without durable write" invariant the reference
  * enforces with per-chunk Kafka flush + watermark commit
  * (TxaKafkaItemWriter.java:66-79).
  *
  * Commits are CUMULATIVE: each manifest lists its own data directory
  * plus every ancestor's (the Iceberg manifest-list analog), so
  * `read()`/`readAt()` always return the full committed table view no
  * matter how many per-chunk commits a run made, and time travel to any
  * snapshot sees the table as of that commit. Zero-row commits are
  * valid (their manifest simply repeats the parent's paths — an empty
  * data dir is never listed, so no reader ever hits a parquet dir with
  * no footers). Incremental consumption uses [[readIncremental]], which
  * unions only the DELTA directories after a snapshot.
  *
  * Layout:
  * {{{
  * <root>/data/<snapshotId>/…(partitioned parquet)…
  * <root>/metadata/snapshot-<snapshotId>.json
  * <root>/metadata/current            (the committed snapshot id)
  * }}}
  */
final class SnapshotTable(val root: String) {

  private val metaDir = Paths.get(root, "metadata")

  def currentSnapshotId: Option[String] = {
    val p = metaDir.resolve("current")
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  /** True when the committed view holds data: a table with no commit,
    * or whose commits all wrote zero rows, reads as a 0-column empty
    * frame. */
  def hasData: Boolean = currentSnapshotId.exists(dataPaths(_).nonEmpty)

  /** Commit `df` as a new snapshot on top of the current one. Data
    * lands fully before any metadata becomes visible. Returns the
    * snapshot id.
    *
    * @param partitionByCols Hive-style partition columns (the engine's
    *   year=/month=/day= output layout, analog of
    *   DocumentRowMapper.java:52-61)
    */
  def commit(df: DataFrame, partitionByCols: Seq[String],
      summary: Map[String, String] = Map.empty): String = {
    val parent = currentSnapshotId
    val snapshotId = newSnapshotId(parent.map(_ => nextSeq()).getOrElse(0))
    val (dataPath, files) = writeData(df, partitionByCols, snapshotId)
    // cumulative view = ancestors' dirs + own dir (only if non-empty:
    // an empty parquet dir would fail schema inference on read)
    val paths = parent.map(dataPaths).getOrElse(Seq.empty) ++
      (if (files.nonEmpty) Seq(dataPath) else Seq.empty)
    finalizeCommit(snapshotId, dataPath, paths, files, summary, parent)
  }

  /** Write `df` into this snapshot's data dir; returns (dir, files). */
  private def writeData(df: DataFrame, partitionByCols: Seq[String],
      snapshotId: String): (String, Seq[String]) = {
    val dataPath = Paths.get(root, "data", snapshotId).toString
    val writer = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionByCols.nonEmpty) writer.partitionBy(partitionByCols: _*)
     else writer).parquet(dataPath)
    (dataPath, listParquet(Paths.get(dataPath)))
  }

  /** Data is durable — write the manifest, then the atomic pointer
    * swap. Shared by append commits and compaction rewrites so the
    * commit protocol has exactly one implementation.
    *
    * Cumulative manifests make concurrent commits LOSE DATA, not just a
    * pointer: two writers that read the same parent each build a path
    * list missing the other's data dir, and the second swap silently
    * drops the first commit from every future read. The table is
    * single-writer by contract; the parent check turns a violated
    * contract into a failed commit instead of silent loss, and the
    * check runs under an O_EXCL commit-lock file so the old
    * check-then-move window is closed: the loser fails CLEANLY (its
    * orphan data dir reclaimed), the winner's data survives. A writer
    * that crashes inside the lock leaves `commit.lock` behind —
    * [[breakStaleLock]] is the operator's recovery, deliberately not
    * automatic (auto-steal would reopen the race it exists to close). */
  private def finalizeCommit(snapshotId: String, dataPath: String,
      paths: Seq[String], files: Seq[String],
      summary: Map[String, String],
      expectedParent: Option[String]): String =
    withCommitLock(dataPath) { stillHeld =>
      requireParentOrCleanup(expectedParent, dataPath)
      val json = snapshotJson(snapshotId, dataPath, paths, files, summary)
      val manifest = manifestPath(snapshotId)
      Files.write(manifest, json.getBytes(StandardCharsets.UTF_8))
      // per-WRITER tmp name: a shared "current.tmp" would let this
      // writer's abort-cleanup delete a concurrent usurper's in-flight
      // pointer file (and fail ITS commit outside its own cleanup)
      val tmp = metaDir.resolve(s"current.tmp.$snapshotId")
      Files.write(tmp, snapshotId.getBytes(StandardCharsets.UTF_8))
      // LAST line of defense against a mid-commit lock break: if this
      // writer stalled past the staleness horizon and an operator broke
      // its lock (letting another writer in), publish must NOT proceed
      // on the stale view — abort before the atomic pointer swap, the
      // one step that makes a commit visible. Two checks: the lock
      // still carries OUR token, and the parent pointer is still what
      // this manifest was built against (a usurper's commit moves it,
      // and publishing a cumulative manifest built before that commit
      // would drop the usurper's data from every future read).
      // On abort, the already-written manifest and data dir must be
      // RECLAIMED: history()/readIncremental() enumerate
      // snapshot-*.json, so a leftover never-published manifest would
      // later be served as committed data.
      try {
        stillHeld()
        requireParent(expectedParent)
      } catch {
        case t: Throwable =>
          // best-effort reclamation must never replace the abort
          // exception (Files.walk can surface UncheckedIOException,
          // a RuntimeException, not just IOException)
          try {
            Files.deleteIfExists(manifest)
            Files.deleteIfExists(tmp)
            val dir = Paths.get(dataPath)
            if (Files.exists(dir)) deleteRecursively(dir)
          } catch { case scala.util.control.NonFatal(_) => () }
          throw t
      }
      Files.move(tmp, metaDir.resolve("current"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      snapshotId
    }

  /** Acquire `metadata/commit.lock` via atomic create-if-absent
    * (O_EXCL), run `body`, release. Acquisition failure means a live
    * concurrent writer: the caller's complete-but-unreferenced data dir
    * is reclaimed (same rationale as [[requireParentOrCleanup]]) and
    * the commit fails with the same exception type as a parent
    * conflict. */
  private def withCommitLock[T](dataPath: String)(
      body: (() => Unit) => T): T = {
    Files.createDirectories(metaDir)
    val lock = metaDir.resolve("commit.lock")
    // pid + wall time (for the operator staring at a stale lock) + a
    // per-acquisition nonce, so ownership is verifiable by CONTENT:
    // both the holder's pre-publish check and breakStaleLock's
    // rename-aside compare bytes, never just existence
    val token = s"${ProcessHandle.current().pid()} " +
      s"${System.currentTimeMillis()} ${java.util.UUID.randomUUID()}"
    val acquired =
      try {
        Files.write(lock, token.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    if (!acquired) {
      val dir = Paths.get(dataPath)
      if (Files.exists(dir)) deleteRecursively(dir)
      throw new java.util.ConcurrentModificationException(
        s"table $root: commit.lock held by another writer — concurrent " +
          "commit refused (data dir reclaimed); if the holder crashed, " +
          "recover with breakStaleLock()")
    }
    // the body calls this immediately before its publish step: a lock
    // file that is gone or carries someone else's token means this
    // writer stalled long enough to be declared dead and broken —
    // publishing anyway could interleave with the usurper's commit
    val stillHeld: () => Unit = () => {
      // read, don't exists-then-read: a lock deleted between the two
      // calls must surface as the documented conflict exception, not a
      // NoSuchFileException leaking out of commit()
      val held =
        try new String(Files.readAllBytes(lock),
          StandardCharsets.UTF_8) == token
        catch { case _: java.io.IOException => false }
      if (!held) throw new java.util.ConcurrentModificationException(
        s"table $root: commit.lock was broken mid-commit (writer " +
          "exceeded the staleness horizon) — publish aborted")
    }
    try body(stillHeld)
    finally {
      // release ONLY a lock this writer still owns — after a break +
      // re-acquire by another writer, deleting the path would free the
      // usurper's lock under it
      try {
        if (Files.exists(lock) && new String(Files.readAllBytes(lock),
            StandardCharsets.UTF_8) == token)
          Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Remove a commit lock left by a CRASHED writer, but only when it is
    * older than `maxAgeMs` (default 10 min) — a younger lock is treated
    * as live and kept. Returns true when a lock was removed. Operator
    * recovery, not called by any commit path.
    *
    * Break protocol (closes the round-4 check-then-delete TOCTOU): the
    * lock is atomically RENAMED aside to a breaker-unique quarantine
    * name, then its content is compared to what the staleness decision
    * was made from. Match → the stale lock was captured; delete it.
    * Mismatch → between read and rename another operator broke the old
    * lock and a NEW writer acquired a fresh one, which this rename just
    * stole; restore it (POSIX rename replaces, so if yet another lock
    * already took the path the restore displaces THAT one instead —
    * every displaced writer is protected by its own pre-publish
    * `stillHeld` + parent re-check, which abort before the pointer
    * swap and reclaim the unpublished manifest/data).
    *
    * Honest limit: advisory file locking cannot FENCE a stalled
    * writer — a process suspended between its pre-publish checks and
    * the atomic move can still publish a stale manifest when it
    * resumes. The checks shrink that window to a few instructions and
    * the parent re-check additionally requires the usurper to have NOT
    * yet committed, but breaking a lock remains an operator decision
    * (verify the holder process is dead first), deliberately not
    * automated. */
  def breakStaleLock(maxAgeMs: Long = 10 * 60 * 1000L): Boolean = {
    val lock = metaDir.resolve("commit.lock")
    if (!Files.exists(lock)) return false
    val content =
      try new String(Files.readAllBytes(lock), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => return false } // gone already
    val stampedAt = content.split(" ").lift(1).flatMap(_.toLongOption)
      .getOrElse(Files.getLastModifiedTime(lock).toMillis)
    if (System.currentTimeMillis() - stampedAt <= maxAgeMs) return false
    val aside = metaDir.resolve(
      s"commit.lock.breaking.${ProcessHandle.current().pid()}." +
        s"${System.nanoTime()}")
    try Files.move(lock, aside, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.io.IOException => return false } // raced: not ours
    val captured =
      try new String(Files.readAllBytes(aside), StandardCharsets.UTF_8)
      catch {
        case _: java.io.IOException =>
          // cannot verify what we captured — restore rather than guess
          // (deleting unverified content could delete a fresh lock)
          try Files.move(aside, lock, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException => () }
          return false
      }
    if (captured == content) { Files.deleteIfExists(aside); true }
    else {
      // stole a FRESH lock — put it back (rename may displace a third
      // lock that took the path meanwhile; any displaced writer is
      // protected by its stillHeld pre-publish check)
      try Files.move(aside, lock, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException => Files.deleteIfExists(aside) }
      false
    }
  }

  /** [[requireParent]] plus orphan reclamation: a detected conflict
    * must not leak the failed commit's (complete, but never-referenced)
    * data dir — no manifest points at it, so neither `history()` nor
    * [[expireSnapshots]] would ever reclaim it, a full table-sized leak
    * per detected conflict at corpus scale. */
  private[table] def requireParentOrCleanup(expected: Option[String],
      dataPath: String): Unit =
    try requireParent(expected)
    catch {
      case e: java.util.ConcurrentModificationException =>
        val dir = Paths.get(dataPath)
        if (Files.exists(dir)) deleteRecursively(dir)
        throw e
    }

  /** Fail the commit if another writer advanced `current` since this
    * commit captured its parent (see [[finalizeCommit]]). */
  private[table] def requireParent(expected: Option[String]): Unit = {
    val now = currentSnapshotId
    if (now != expected)
      throw new java.util.ConcurrentModificationException(
        s"table $root: current snapshot is ${now.getOrElse("<none>")} but " +
          s"this commit was built on ${expected.getOrElse("<none>")} — " +
          "concurrent writer detected; committing would drop its data " +
          "from the cumulative manifest")
  }

  /** Read the currently-committed table view (all commits up to
    * `current`). */
  def read(spark: SparkSession): DataFrame = currentSnapshotId match {
    case Some(id) => readAt(spark, id)
    case None =>
      throw new IllegalStateException(s"table $root has no committed snapshot")
  }

  /** Time travel: the full table view as of a committed snapshot
    * (snapshots are immutable — an Iceberg `VERSION AS OF` analog).
    * Columns are matched BY NAME across commits, and columns absent
    * from older commits read as null — add-column schema evolution
    * (the Iceberg default) works without rewriting history. */
  def readAt(spark: SparkSession, snapshotId: String): DataFrame = {
    val paths = dataPaths(snapshotId)
    if (paths.isEmpty) spark.emptyDataFrame
    else paths.map(readDir(spark, _))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** ONLY the rows this snapshot's commit added (its delta). Note: a
    * compaction snapshot's "delta" is the rewritten full view — use
    * [[readIncremental]], which excludes rewrites, for change feeds. */
  def deltaAt(spark: SparkSession, snapshotId: String): DataFrame = {
    val dir = Paths.get(root, "data", snapshotId)
    if (listParquet(dir).isEmpty) spark.emptyDataFrame
    else readDir(spark, dir.toString)
  }

  private def readDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("basePath", dir).parquet(dir)

  /** All committed snapshot ids in commit order (ids are
    * timestamp-prefixed, so lexicographic order == commit order). */
  def history(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(metaDir)) return Seq.empty
    val s = Files.list(metaDir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("snapshot-") && n.endsWith(".json"))
      .map(_.stripPrefix("snapshot-").stripSuffix(".json"))
      .toSeq.sorted
    finally s.close()
  }

  /** Incremental read: union of the DELTAS committed strictly AFTER
    * `sinceSnapshotId` up to `current` — the Iceberg incremental-scan
    * analog that lets a downstream consumer resume from its own
    * checkpointed snapshot id instead of re-reading the table. */
  def readIncremental(spark: SparkSession,
      sinceSnapshotId: String): DataFrame = {
    // skip fileless deltas (zero-row commits are schemaless) AND rewrite
    // snapshots (a compaction's data dir is the full table view, not new
    // rows — including it would re-deliver the entire history as delta)
    val dirs = history().filter(_ > sinceSnapshotId)
      .filterNot(id => snapshotSummary(id).get("compaction").contains("true"))
      .map(id => Paths.get(root, "data", id))
      .filter(d => listParquet(d).nonEmpty)
    if (dirs.isEmpty)
      spark.emptyDataFrame
    else
      dirs.map(d => readDir(spark, d.toString))
        .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Rewrite the current table view as ONE new data directory and
    * commit it as a compaction snapshot — the Iceberg rewrite_data_files
    * analog. Chunked runs append one directory per chunk; at scale that
    * accretes small files and long manifest path lists, so periodic
    * compaction keeps reads to a single well-sized dir. Time travel to
    * pre-compaction snapshots still works (old dirs are immutable and
    * stay referenced by old manifests until [[expireSnapshots]]).
    *
    * @return the compaction snapshot id
    */
  def compact(spark: SparkSession, partitionByCols: Seq[String],
      summary: Map[String, String] = Map.empty): String = {
    val parent = currentSnapshotId
    val view = read(spark)
    commitRewrite(view, partitionByCols, summary + ("compaction" -> "true"),
      parent)
  }

  /** Commit `df` as a REWRITE snapshot: its manifest references only its
    * own data dir (a full-table view), not the ancestor chain. */
  private def commitRewrite(df: DataFrame, partitionByCols: Seq[String],
      summary: Map[String, String], expectedParent: Option[String]): String = {
    val snapshotId = newSnapshotId(nextSeq())
    val (dataPath, files) = writeData(df, partitionByCols, snapshotId)
    val paths = if (files.nonEmpty) Seq(dataPath) else Seq.empty
    finalizeCommit(snapshotId, dataPath, paths, files, summary, expectedParent)
  }

  /** Drop snapshots older than `keepLast` committed ones and delete any
    * data directory no surviving manifest references (Iceberg
    * expire_snapshots analog). The current snapshot is always kept.
    * Returns the expired snapshot ids. */
  def expireSnapshots(keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = history()
    val (expired, kept) = all.splitAt(math.max(0, all.length - keepLast))
    if (expired.isEmpty) return Seq.empty
    val live: Set[String] = kept.flatMap(dataPaths).toSet
    expired.foreach { id =>
      val dir = Paths.get(root, "data", id)
      if (!live.contains(dir.toString) && Files.exists(dir))
        deleteRecursively(dir)
      Files.deleteIfExists(manifestPath(id))
    }
    expired
  }

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def snapshotSummary(id: String): Map[String, String] = {
    val raw = manifest(id)
    """"summary\.([^"]+)"\s*:\s*"([^"]*)"""".r
      .findAllMatchIn(raw).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Cumulative non-empty data directories of a committed snapshot. A
    * manifest without a `data-paths` list is corrupt and fails loudly
    * rather than reading as some other set of files. */
  def dataPaths(id: String): Seq[String] = {
    val raw = manifest(id)
    val m = """"data-paths"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(raw)
      .getOrElse(throw new IllegalStateException(
        s"snapshot manifest ${manifestPath(id)} has no data-paths list"))
    """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1))
      .map(g => unescape(g.group(1))).toSeq
  }

  private def manifestPath(id: String) = metaDir.resolve(s"snapshot-$id.json")

  private def manifest(id: String): String =
    new String(Files.readAllBytes(manifestPath(id)), StandardCharsets.UTF_8)

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private var seq = 0
  private def nextSeq(): Int = { seq += 1; seq }

  /** Timestamp-prefixed (so lexicographic order == commit order) with a
    * 48-bit random suffix so two same-millisecond writers — separate
    * table handles or processes each carrying their own seq — cannot
    * (p ≈ 2⁻⁴⁸ per race) mint the same id and collide in one DATA
    * DIRECTORY while racing toward the commit lock; the lock then
    * arbitrates the commit itself. */
  private def newSnapshotId(seqNo: Int): String =
    f"${System.currentTimeMillis()}%013d-$seqNo%06d-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  private def listParquet(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
      finally s.close()
    }
  }

  private def snapshotJson(id: String, dataPath: String, paths: Seq[String],
      files: Seq[String], summary: Map[String, String]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val fileList = files.map(q).mkString("[", ",", "]")
    val pathList = paths.map(q).mkString("[", ",", "]")
    val sum = summary.map { case (k, v) => s"${q("summary." + k)}: ${q(v)}" }
    (Seq(
      s"${q("snapshot-id")}: ${q(id)}",
      s"${q("data-path")}: ${q(dataPath)}",
      s"${q("data-paths")}: $pathList",
      s"${q("file-count")}: ${files.length}",
      s"${q("files")}: $fileList") ++ sum).mkString("{", ",", "}")
  }
}
