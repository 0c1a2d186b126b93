package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Shared layout-maintenance primitives for every persisted layout
  * (k-NN prefix index, IVF cells, Z-order files):
  *
  *  - a single-maintainer LOCK (atomic create-if-absent, sibling of the
  *    layout dir) serializing save/append/compact per layout — without
  *    it an append committing inside a compaction's read→overwrite
  *    window is silently lost;
  *  - a self-describing metadata SIDECAR (write-then-rename, rename
  *    OVER the destination) so a mismatched append fails fast instead
  *    of silently corrupting the layout's physical contract;
  *  - the one COMMIT protocol ([[commit]]) every save, append,
  *    compaction and re-cluster publishes through: lock, replay guard,
  *    created-set listing, adoption, header merge and the manifest
  *    rename, written once (MAINTENANCE.md describes it).
  *
  * Atomicity caveat (all three): create-if-absent and rename are
  * atomic on local/HDFS semantics; object stores need their own
  * conditional-put/rename primitives.
  */
object Maintenance {

  /** The lock file guarding `path` — a SIBLING of the layout dir so a
    * whole-directory overwrite of the layout cannot delete the lock
    * that guards it.
    */
  def lockPath(path: String): Path = {
    val root = new Path(path)
    new Path(root.getParent, s".${root.getName}.graft_maintenance.lock")
  }

  /** Run `body` holding `path`'s single-maintainer lock. A competing
    * maintainer fails FAST (IllegalStateException naming the holder)
    * instead of corrupting the layout; queries never take the lock. A
    * maintainer whose PROCESS was killed leaves its lock behind on
    * purpose: [[inspectAndRelease]] validates the committed snapshot
    * and releases exactly when it is coherent. An in-process failure
    * releases the lock with the exception — every operation's
    * pre-publish state is orphans-only, so a retry is always safe.
    */
  def withLock[T](s: SparkSession, path: String, op: String)(body: => T): T = {
    val lock = lockPath(path)
    val fs = lock.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(lock.getParent)
    def lockHeld(cause: Throwable): Nothing = {
      val holder = scala.util.Try {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(lock), "UTF-8"))
        try Iterator.continually(in.readLine()).takeWhile(_ != null).mkString(" ")
        finally in.close()
      }.getOrElse("<unreadable>")
      throw new IllegalStateException(
        s"cannot $op layout $path: another maintainer holds the lock " +
          s"$lock ($holder). Maintenance is serialized per layout; if the " +
          "holder crashed, run Maintenance.inspectAndRelease to validate " +
          "and release it.", cause)
    }
    // Acquire = create-if-absent. On the LOCAL filesystem Hadoop's
    // create(overwrite=false) is check-then-act (exists() + truncating
    // open — two racing maintainers could both pass), so route through
    // java.io's createNewFile, which is O_CREAT|O_EXCL atomic; HDFS
    // create(false) is atomic at the NameNode already.
    val out: java.io.OutputStream =
      if (fs.getScheme == "file") {
        val f = new java.io.File(lock.toUri.getPath)
        val created = try f.createNewFile() catch { case e: java.io.IOException => lockHeld(e) }
        if (!created) lockHeld(null)
        new java.io.FileOutputStream(f)
      } else {
        try fs.create(lock, false)
        catch { case e: java.io.IOException => lockHeld(e) }
      }
    // holder info is diagnostics: if recording it fails (disk full), the
    // just-created lock must not leak as an anonymous permanent holder
    try {
      out.write(s"op=$op pid=${ProcessHandle.current().pid()} epochMs=${System.currentTimeMillis()}"
        .getBytes("UTF-8"))
      out.close()
    } catch {
      case e: Throwable =>
        scala.util.Try(out.close())
        scala.util.Try(fs.delete(lock, false))
        throw e
    }
    try body
    finally { fs.delete(lock, false); () }
  }

  /** Commit `kv` as the sidecar `dir/name` via write-then-rename: a
    * crash mid-write can never leave a TORN sidecar, and the rename
    * goes OVER any existing file (FileContext overwrite-rename — a
    * delete-then-rename pair would open a no-sidecar window in which a
    * concurrent reader takes an unchecked fallback).
    */
  def writeSidecar(s: SparkSession, dir: String, name: String,
      kv: Seq[(String, String)]): Unit =
    writeTextAtomic(s, dir, name, kv.map { case (k, v) => s"$k=$v\n" }.mkString)

  /** The write-then-rename-over primitive behind every sidecar and the
    * manifest: stage under a dot-prefixed temp (invisible to parquet
    * listings), then one FileContext overwrite-rename. The stream is
    * closed and the staging file best-effort deleted on ANY failure —
    * a failed commit leaves no leaked descriptor and no growing pile
    * of .tmp files, only the previous committed content.
    */
  private def writeTextAtomic(s: SparkSession, dir: String, name: String,
      content: String): Unit = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = new Path(dir, s".$name.tmp_${ProcessHandle.current().pid()}")
    try {
      val out = fs.create(staging, true)
      try {
        out.write(content.getBytes("UTF-8"))
      } finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, s.sparkContext.hadoopConfiguration)
        .rename(staging, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Throwable =>
        scala.util.Try(fs.delete(staging, false))
        throw e
    }
  }

  // ---- manifest-committed layouts --------------------------------------

  /** The layout's file MANIFEST: the committed list of data files plus
    * key-value headers, replaced atomically (write-then-rename-over)
    * per maintenance operation. This is what gives READERS a safe view
    * across maintenance — the r9 residual was a reader listing the
    * directory mid-compaction and silently reading a partially-swapped
    * partition. A manifest-pinned reader instead resolves ONE committed
    * snapshot, and because every incremental op (append, compact,
    * re-cluster, ingest) only ever ADDS files and swaps the manifest,
    * that snapshot stays physically intact until a scheduled
    * [[vacuumOrphans]] outside the retention window sweeps it. The
    * lakehouse-table commit mechanism (Delta/Iceberg metadata logs),
    * cut down to one atomically-replaced file.
    *
    * The headers carry everything that must commit ATOMICALLY with the
    * file list — the k-NN layouts' per-prefix box-stats directory
    * pointer, the IVF layouts' centroid-table pointer, streaming
    * ingestion's per-lineage batch watermarks — so derived state can
    * never be stale relative to the rows: one rename publishes both.
    *
    * A second structural property: maintenance ops compute the
    * manifest ADDITIVELY (old entries ∪ exactly the files this
    * operation created, from an under-lock before/after listing), so a
    * crashed operation's committed-but-unpublished parquet files are
    * ORPHANS that no later manifest ever adopts — a replayed streaming
    * batch or retried append can therefore never double-count them.
    *
    * Reader-safety scope (stated, not hidden): the committed-snapshot
    * guarantee covers the INCREMENTAL ops — append, compact,
    * re-cluster, streaming ingest, vacuum. A whole-layout SAVE in
    * overwrite mode is a destructive REBUILD: Spark clears the
    * directory (manifest included) before writing, so a reader racing
    * a re-save of the same path sees a fail-loud window, not a
    * snapshot. Rebuild-in-place is an offline op by nature; a live
    * replacement is what [[Similarity.reclusterIvfLayout]]'s
    * write-beside-then-swap pattern is for.
    *
    * Scale envelope (stated, not hidden): the manifest is one text
    * file of O(files) lines rewritten per maintenance op, and a pinned
    * read builds a file index over that list — both linear in file
    * count, the same driver-side budget as any static FileIndex over
    * the directory. ~1M files ≈ tens of MB of manifest; beyond that a
    * real deployment shards the log Delta/Iceberg-style (checkpointed
    * segments), which changes the encoding, not this commit protocol.
    * Compaction exists precisely to keep file counts bounded.
    */
  val ManifestFile = "_graft_manifest"

  /** One committed layout snapshot: `files` are data-file paths
    * RELATIVE to the layout root (sorted, canonical), `headers` the
    * atomically co-committed metadata, `tombstones` the (dropTimeMs,
    * path) retention log — every file or generation dir a PAST commit
    * unreferenced, stamped with that commit's wall time. Tombstones are
    * what lets [[vacuumOrphans]] honor a retention window: a reader
    * pinned to any manifest committed within the last `minAgeMs` can
    * only reference files that are either still live or tombstoned
    * more recently than the window — never swept under it. They are
    * maintained by [[writeManifest]] automatically and purged by
    * vacuum once their path is gone, so the log stays bounded by the
    * garbage actually outstanding (Delta's remove-action/retention
    * mechanism, cut down to the one-file log).
    */
  final case class Manifest(headers: Map[String, String], files: Seq[String],
      tombstones: Seq[(Long, String)] = Nil) {
    def header(k: String): Option[String] = headers.get(k)
  }

  /** None for a layout without a manifest (pre-manifest layouts keep
    * the plain directory-listing read). A PRESENT but unreadable
    * manifest FAILS with the file named — silently falling back to a
    * directory listing would reintroduce exactly the torn-view reads
    * the manifest exists to prevent.
    */
  def readManifest(s: SparkSession, path: String): Option[Manifest] =
    readTextRetrying(s, path, ManifestFile).map { lines =>
      val nonEmpty = lines.filter(_.nonEmpty)
      val (hs, rest) = nonEmpty.partition(_.startsWith("#"))
      val (ts, fsLines) = rest.partition(_.startsWith("!"))
      Manifest(
        hs.flatMap { l =>
          l.drop(1).split("=", 2) match {
            case Array(k, v) => Some(k -> v); case _ => None
          }
        }.toMap,
        fsLines,
        ts.flatMap { l =>
          l.drop(1).split("\t", 2) match {
            case Array(t, p) => t.toLongOption.map(_ -> p); case _ => None
          }
        })
    }

  /** Read a rename-committed text file, retrying a handful of times
    * before declaring it unreadable. The retry is load-bearing on the
    * LOCAL filesystem: Hadoop's ChecksumFs implements rename-over as
    * TWO renames (data file, then its `.crc` sidecar), so a reader
    * landing between them sees a transient checksum mismatch — the
    * racing-reader gate (ManifestSpec) caught exactly this. A transient
    * race resolves on re-read within milliseconds; real tamper/damage
    * persists and still FAILS FAST after the retries (the fail-loud
    * contract is unchanged — only its trigger now distinguishes
    * "mid-rename" from "corrupt"). HDFS renames are one NameNode op and
    * never take this path.
    */
  private def readTextRetrying(s: SparkSession, dir: String,
      name: String): Option[Seq[String]] = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) return None
      val read = scala.util.Try {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p), "UTF-8"))
        try Iterator.continually(in.readLine()).takeWhile(_ != null).toSeq
        finally in.close()
      }
      read match {
        case scala.util.Success(lines) => return Some(lines)
        case scala.util.Failure(e) =>
          attempt += 1
          if (attempt >= 5) throw new IllegalStateException(
            s"committed file $p is unreadable after $attempt attempts " +
              s"(${e.getMessage}); a torn-view fallback would defeat the " +
              "committed-snapshot contract — restore or regenerate it", e)
          Thread.sleep(20L * attempt)
      }
    }
    None // unreachable
  }

  /** Commit `m` as `path`'s manifest in one rename (headers first as
    * `#k=v` lines, then `!dropTimeMs\tpath` tombstones, then the sorted
    * file list — a canonical byte form, so identical snapshots are
    * identical bytes).
    *
    * Tombstone maintenance is AUTOMATIC at this choke point (every
    * commit flows through here): `prev`'s tombstones are carried
    * forward, and every file — or `*_dir`-header generation dir — `prev`
    * referenced but `m` does not gets a fresh tombstone stamped with
    * this commit's wall time. [[commit]] passes the manifest on disk at
    * publish time; [[vacuumOrphans]] passes None, publishing its purged
    * log without re-adopting the entries it just retired.
    */
  def writeManifest(s: SparkSession, path: String, m: Manifest,
      prev: Option[Manifest]): Unit = {
    val now = System.currentTimeMillis()
    val liveDirs = m.headers.collect { case (k, v) if k.endsWith("_dir") => v }.toSet
    val live = m.files.toSet ++ liveDirs
    val dropped = prev.toSeq.flatMap { p =>
      val prevDirs = p.headers.collect { case (k, v) if k.endsWith("_dir") => v }
      (p.files ++ prevDirs).filterNot(live)
    }
    val tombs = (prev.toSeq.flatMap(_.tombstones) ++ m.tombstones ++
        dropped.map(now -> _))
      .filterNot { case (_, p) => live(p) }
      // dedupe per PATH (same-millisecond stamps collide on a
      // ts-keyed map), keeping the most recent drop time
      .groupBy(_._2).toSeq.map { case (p, ts) => ts.map(_._1).max -> p }
      .sorted
    onBeforeManifestCommit()
    writeTextAtomic(s, path, ManifestFile,
      (m.headers.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" } ++
        tombs.map { case (t, p) => s"!$t\t$p" } ++
        m.files.distinct.sorted).mkString("", "\n", "\n"))
  }

  /** Test seam: invoked immediately before a manifest commit — the one
    * instant where an operation's data files are durable but
    * UNPUBLISHED. Ingest/append specs crash here and prove a replay
    * neither loses nor duplicates rows. No-op in production.
    */
  private[graft] var onBeforeManifestCommit: () => Unit = () => ()

  /** Recursive data-file listing under `path`, returned RELATIVE to
    * `path`: only `*.parquet`, skipping any `_`/`.`-prefixed path
    * component (Spark job machinery, sidecars, stats directories,
    * staging temps are all invisible to the data plane by convention).
    */
  def listDataFiles(s: SparkSession, path: String): Seq[String] =
    dataFileSizes(s, path).keys.toSeq

  /** Sizes of every data file under `path`, keyed by root-relative
    * path — ONE recursive listing (each directory's listStatus carries
    * lengths for free) instead of a per-file getFileStatus loop, which
    * at 10⁶ files would be 10⁶ NameNode round-trips. Every consumer
    * that needs file sizes (skew measurement, small-file selection,
    * coherence checks) goes through this.
    */
  def dataFileSizes(s: SparkSession, path: String): Map[String, Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    val rootUri = root.toUri.getPath
    def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")
    def walk(p: Path): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (hidden(n)) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet"))
          Seq(st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/") -> st.getLen)
        else Seq.empty
      }
    walk(root).toMap
  }

  // ---- the commit protocol ----------------------------------------------

  /** Run one maintenance op on the layout at `path` under the commit
    * protocol every maintained layout shares — the one place it is
    * written:
    *
    *  1. take the single-maintainer lock ([[withLock]], named `op`);
    *  2. read the committed manifest (`Txn.prev`, None for a layout
    *     without one);
    *  3. with an `ingestKey = (streamId, batchId)`, skip a batch at or
    *     below that lineage's committed watermark: the result is None
    *     and nothing runs;
    *  4. otherwise run `body`, which makes its own pre-write checks
    *     against `prev` and publishes through [[Txn.publish]] (or does
    *     not, when it has nothing to do). `publish` owns the rest:
    *     listing before and after the write, adoption, header and
    *     watermark merge, and the manifest rename.
    *
    * None iff `ingestKey` named an already-committed batch.
    */
  def commit[T](s: SparkSession, path: String, op: String,
      ingestKey: Option[(String, Long)] = None)(body: Txn => T): Option[T] =
    withLock(s, path, op) {
      val prev = readManifest(s, path)
      val replayed = ingestKey.exists { case (sid, bid) =>
        watermark(prev, sid).exists(bid <= _)
      }
      if (replayed) None else Some(body(new Txn(s, path, prev, ingestKey)))
    }

  /** One maintenance op in flight under [[commit]]. `prev` is the
    * committed snapshot the op started from, read under the lock.
    */
  final class Txn private[Maintenance] (s: SparkSession, path: String,
      val prev: Option[Manifest], ingestKey: Option[(String, Long)]) {

    /** Run `write`, then publish its result in ONE manifest rename:
      *
      *  - the committed files become the snapshot's files minus those
      *    `supersedes` names (none for an append, the merged-away ones
      *    for a compaction, all for a save or re-cluster) plus EXACTLY
      *    the files `write` created — a listing before and after it,
      *    under the lock, never a directory census. A crashed earlier
      *    op's unpublished orphans therefore stay excluded forever, and
      *    a replayed streaming batch can never adopt them;
      *  - the committed headers become the snapshot's headers, then
      *    `headers(created, files)` (box stats, centroid generation),
      *    then the ingest watermark (`ingest.<streamId>`,
      *    `last_ingest`) when the op carries a key.
      *
      * The snapshot built on is the manifest on disk at publish time:
      * `prev`, unless `write` was an overwrite that cleared the
      * directory (a save), which starts the layout afresh. A layout
      * without a manifest adopts its pre-write listing — that IS what
      * its directory readers saw — and becomes committed.
      */
    def publish(write: => Unit)(supersedes: String => Boolean = _ => false,
        headers: (Seq[String], Seq[String]) => Map[String, String] = (_, _) => Map.empty): Unit = {
      val before = listDataFiles(s, path).toSet
      write
      val created = listDataFiles(s, path).filterNot(before)
      val base = readManifest(s, path)
      val files = base.map(_.files).getOrElse(before.toSeq.sorted).filterNot(supersedes) ++ created
      val watermarks = ingestKey.toSeq.flatMap { case (sid, bid) =>
        Seq(ingestHeader(sid) -> bid.toString, LastIngestHeader -> s"$sid:$bid")
      }
      writeManifest(s, path, Manifest(
        base.map(_.headers).getOrElse(Map.empty) ++ headers(created, files) ++ watermarks,
        files), base)
    }
  }

  /** Manifest header recording the most recent streaming publisher as
    * `streamId:batchId` (observability; the per-lineage watermark
    * headers are what the replay guard reads).
    */
  private val LastIngestHeader = "last_ingest"

  /** Per-lineage streaming watermark header: batch ids are
    * CHECKPOINT-scoped, so each stream lineage carries its own key — a
    * recreated checkpoint's renumbered batches are new data under a new
    * key, and two streams feeding one layout cannot mute each other.
    */
  private def ingestHeader(streamId: String) = s"ingest.$streamId"

  private def watermark(m: Option[Manifest], streamId: String): Option[Long] =
    m.flatMap(_.header(ingestHeader(streamId))).flatMap(_.toLongOption)

  /** Lineage `streamId`'s committed watermark at `path` (−1 = none). */
  def lastCommitted(s: SparkSession, path: String, streamId: String): Long =
    watermark(readManifest(s, path), streamId).getOrElse(-1L)

  /** Batch id of the most recent committed micro-batch of ANY lineage
    * at `path` (−1 = none) — observability; the replay guard reads the
    * per-lineage watermarks, not this.
    */
  def lastIngested(s: SparkSession, path: String): Long =
    readManifest(s, path)
      .flatMap(_.header(LastIngestHeader))
      .flatMap(_.split(":", 2).lastOption)
      .flatMap(_.toLongOption)
      .getOrElse(-1L)

  /** Read the layout at `path` through its committed manifest when one
    * exists (the safe-across-compaction view: one atomic snapshot,
    * loud failure over silent subset), else a plain directory read
    * (pre-manifest layouts keep their old semantics). The `basePath`
    * option keeps partition-directory columns and their
    * PartitionFilters pruning on the pinned file list.
    */
  def readLayout(s: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    readManifest(s, path) match {
      case Some(m) if m.files.nonEmpty =>
        s.read.option("basePath", path)
          .parquet(m.files.map(f => new Path(path, f).toString): _*)
      case _ => s.read.parquet(path)
    }

  /** The parquet table in one of a layout's `_`-prefixed generation
    * directories (maintained box stats, IVF centroids), read through its
    * listed `*.parquet` part files: Spark's data source warns "All
    * paths were ignored" on every read of a root path whose own name
    * starts with `_` (the read still works), while the part files' names
    * are not hidden. The on-disk layout stays as written. A missing
    * directory throws `FileNotFoundException`.
    */
  def readGeneration(s: SparkSession, path: String, dir: String): org.apache.spark.sql.DataFrame = {
    val root = new Path(path, dir)
    val parts = root.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(root)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    s.read.parquet(parts: _*)
  }

  /** Selective small-file compaction for any append-grown
    * MANIFEST-COMMITTED layout partitioned by `partCol` (k-NN word
    * prefixes, IVF cells): every partition holding more than
    * `maxFilesPerPartition` committed parquet files gets its rows
    * merged into ~one NEW file written BESIDE the old ones (same
    * partition dirs, new unique filenames); one manifest rename then
    * swaps old-for-merged. Every other partition's files stay
    * byte-untouched. This makes compaction SNAPSHOT-ISOLATED like
    * every other incremental op — the in-place dynamic-overwrite
    * design it replaces was the protocol's one exception:
    *
    *  - a reader pinned to any recent manifest keeps a fully-intact
    *    snapshot: the superseded small files become tombstoned garbage
    *    only [[vacuumOrphans]] deletes, retention-windowed;
    *  - a crash at ANY point before the manifest rename leaves the
    *    layout unchanged and the merged files as unpublished orphans
    *    no later manifest adopts — retrying (or ignoring the crash) is
    *    always safe, so no recovery procedure exists because none is
    *    needed; the lock releases with the failure;
    *  - the fragmentation census AND the merge input are the COMMITTED
    *    file list, never a directory census — a crashed operation's
    *    orphans are never resurrected into the compacted layout (and
    *    no value matching against directory names: escaped string
    *    values and the null partition ride Spark's own partition
    *    codec in both directions).
    *
    * Refuses a layout without a manifest: with old and new files
    * coexisting in the same dirs, only a committed file list tells
    * readers which to scan. Cost is bounded by the heavy partitions'
    * bytes — read once, written once (the copy-out + overwrite design
    * paid the write twice); at extreme scale run it per
    * partition-batch. Headers (box stats, ingest watermarks) ride
    * along unchanged — row-invariant ops never touch them. Returns
    * the compacted partition values.
    */
  def compactPartitioned(s: SparkSession, path: String, partCol: String,
      maxFilesPerPartition: Int): Seq[String] =
    commit(s, path, "compact") { t =>
      import org.apache.spark.sql.functions.col
      val root = new Path(path)
      val m = t.prev.getOrElse(throw new IllegalStateException(
        s"$path has no committed manifest — compaction merges beside the old " +
          "files and swaps them in one manifest rename, which needs a committed " +
          "file list for readers to resolve; write the layout through the " +
          "maintained save APIs first"))
      def partOf(rel: String): Option[String] = {
        val first = rel.takeWhile(_ != '/')
        if (first.startsWith(s"$partCol=") && first.length < rel.length)
          Some(first.stripPrefix(s"$partCol=")) else None
      }
      val heavy = m.files.flatMap(partOf).groupBy(identity)
        .collect { case (p, fsIn) if fsIn.size > maxFilesPerPartition => p }
        .toSeq.sorted
      if (heavy.nonEmpty) {
        val heavySet = heavy.toSet
        def isHeavy(f: String) = partOf(f).exists(heavySet)
        onCompactBeforeWriteBack()
        // THE swap: heavy partitions' old entries out, merged files in,
        // headers carried; the dropped files are tombstoned for the
        // vacuum retention window
        t.publish {
          s.read.option("basePath", path)
            .parquet(m.files.filter(isHeavy).map(new Path(root, _).toString): _*)
            .repartition(heavy.size, col(partCol)) // ~one output file per partition
            .write.mode("append").partitionBy(partCol).parquet(path)
        }(supersedes = isHeavy)
      }
      heavy
    }.get // no ingest key: never a replay

  /** Test seam: invoked between compaction's fragmentation census and
    * its merge+publish, i.e. inside the window where an unserialized
    * append's files would be silently dropped from the swapped
    * manifest. IndexAppendSpec interleaves an append here and proves
    * it fails fast at the lock; ManifestSpec reads here and proves the
    * full pre-compact snapshot. No-op in production.
    */
  private[graft] var onCompactBeforeWriteBack: () => Unit = () => ()

  /** One-call inspection of a layout whose maintainer's PROCESS was
    * KILLED holding the lock (a killed append, save, compaction, or
    * streaming ingest): validate that the committed snapshot is
    * coherent and release the lock iff it is. Every operation's
    * pre-publish state is orphans-only (nothing ever deletes before
    * its manifest commit), so there is exactly one recovery procedure
    * for every crash class — this one.
    *
    *  - `_temporary` job residue (never-committed task files) is
    *    deleted — it was invisible to readers and belongs to no
    *    snapshot;
    *  - with a manifest: every listed file must exist non-empty, and
    *    every `*_dir` header (box stats, centroids) must name an
    *    existing non-empty directory — the atomic-commit invariants;
    *    a violation REFUSES (out-of-band damage needs a human);
    *  - data files on disk but NOT in the manifest are the crashed
    *    operation's unpublished orphans: reported back (and safe to
    *    delete — no manifest will ever adopt them), never a refusal.
    *
    * Returns the orphan list of a released layout. The manifest commit
    * being the single publish point is what makes this decidable: a
    * crashed append either published (manifest names only good files)
    * or didn't (its files are orphans) — there is no half-state.
    */
  def inspectAndRelease(s: SparkSession, path: String): Seq[String] = {
    val lock = lockPath(path)
    val root = new Path(path)
    val fs = lock.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(lock)) throw new IllegalStateException(
      s"$path holds no maintenance lock — nothing to inspect/release")
    val jobResidue = new Path(root, "_temporary")
    if (fs.exists(jobResidue)) { fs.delete(jobResidue, true); () }
    val orphans = readManifest(s, path) match {
      case Some(m) =>
        val sizes = dataFileSizes(s, path) // one listing, not a per-file RPC loop
        m.files.foreach { f =>
          if (!sizes.get(f).exists(_ > 0)) throw new IllegalStateException(
            s"layout $path is NOT coherent: manifest-listed file $f is missing or empty — " +
              "out-of-band damage; the lock stays until the layout is repaired")
        }
        m.headers.collect { case (k, v) if k.endsWith("_dir") => (k, v) }.foreach {
          case (k, v) =>
            val d = new Path(root, v)
            if (!fs.exists(d) || fs.listStatus(d).isEmpty) throw new IllegalStateException(
              s"layout $path is NOT coherent: manifest header $k names a missing or " +
                s"empty directory $v — out-of-band damage; the lock stays")
        }
        sizes.keys.toSeq.filterNot(m.files.toSet)
      case None => Seq.empty // pre-manifest layout: nothing to validate against
    }
    fs.delete(lock, false)
    orphans
  }

  /** What [[vacuumOrphans]] swept: unpublished data files, unreferenced
    * generation dirs, job residue — all garbage by construction (no
    * committed manifest references any of it) — plus what it RETAINED:
    * tombstoned entries still inside the caller's retention window.
    */
  final case class VacuumReport(dataFiles: Seq[String], dirs: Seq[String],
      bytes: Long, retained: Seq[String] = Nil)

  /** Garbage-collect a manifest-committed layout — the VACUUM half of
    * the commit protocol (orphan EXCLUSION is structural; this reclaims
    * the bytes): under the maintenance lock, delete
    *
    *  - data files outside the committed manifest (crashed operations'
    *    durable-but-unpublished writes — no manifest will ever adopt
    *    them, see [[ManifestFile]]),
    *  - superseded generation dirs (`_boxes_*` / `_centroids_*` not
    *    referenced by any `*_dir` header — appends/re-clusters drop
    *    their predecessors best-effort, this sweeps what a crash left),
    *  - `_temporary` job residue.
    *
    * Safe against readers by RETENTION, not luck: `minAgeMs` is the
    * window a superseded snapshot stays scannable. Every file (or
    * generation dir) a commit unreferences carries a tombstone stamped
    * with that commit's time ([[writeManifest]]); vacuum sweeps a
    * tombstoned entry only once it has been dead longer than
    * `minAgeMs`, then purges its tombstone. A reader that pinned ANY
    * manifest within the last `minAgeMs` therefore keeps a fully-intact
    * snapshot: everything it can reference is live or younger-dead
    * than the window. Orphans with NO tombstone were never in any
    * manifest (crashed operations' unpublished writes — invisible to
    * every reader by construction) and are swept immediately at any
    * age. With the default `minAgeMs = 0` every orphan sweeps — the
    * quiesced-maintenance mode; a 24/7 deployment passes a window
    * longer than its longest query, Delta-vacuum style. Safe against
    * maintainers by the lock. Refuses a layout without a manifest —
    * "everything the directory holds" IS such a layout's committed
    * state, so nothing there is provably garbage.
    */
  def vacuumOrphans(s: SparkSession, path: String,
      minAgeMs: Long = 0L): VacuumReport =
    withLock(s, path, "vacuum") {
      val m = readManifest(s, path).getOrElse(throw new IllegalStateException(
        s"$path has no committed manifest — a directory-committed layout has no " +
          "provable garbage; write it through the maintained APIs first"))
      val root = new Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val now = System.currentTimeMillis()
      val tombTs: Map[String, Long] =
        m.tombstones.groupBy(_._2).map { case (p, ts) => p -> ts.map(_._1).max }
      // inside the retention window iff tombstoned recently enough;
      // never-tombstoned garbage was never published and has no readers
      def retained(rel: String): Boolean =
        tombTs.get(rel).exists(ts => now - ts < minAgeMs)
      var bytes = 0L
      val sizes = dataFileSizes(s, path) // one listing, not a per-file RPC loop
      val (keptFiles, orphanFiles) =
        sizes.keys.toSeq.filterNot(m.files.toSet).sorted.partition(retained)
      orphanFiles.foreach { f =>
        bytes += sizes(f)
        fs.delete(new Path(root, f), false)
      }
      val referenced = m.headers.collect { case (k, v) if k.endsWith("_dir") => v }.toSet
      val (keptDirs, staleDirs) = fs.listStatus(root).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isDirectory && !referenced(n) &&
          (n.startsWith("_boxes_") || n.startsWith("_centroids") || n == "_temporary")
      }.map(_.getPath.getName).partition(retained)
      staleDirs.foreach { d =>
        val p = new Path(root, d)
        bytes += fs.getContentSummary(p).getLength
        fs.delete(p, true)
      }
      // purge tombstones that no longer protect anything on disk, so the
      // log stays bounded by the garbage actually outstanding
      val stillDead = (keptFiles ++ keptDirs).toSet
      val liveTombs = m.tombstones.filter { case (_, p) => stillDead(p) }
      if (liveTombs != m.tombstones)
        writeManifest(s, path, m.copy(tombstones = liveTombs), None)
      VacuumReport(orphanFiles, staleDirs, bytes, keptFiles ++ keptDirs)
    }

  /** None for a layout without the sidecar (pre-metadata layouts keep
    * their unchecked caller contract). A PRESENT but unreadable sidecar
    * FAILS with the file named: silently skipping the check on
    * corruption would defeat the fail-fast.
    */
  def readSidecar(s: SparkSession, dir: String, name: String): Option[Map[String, String]] =
    readTextRetrying(s, dir, name).map {
      _.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k -> v.trim); case _ => None }
      }.toMap
    }
}
