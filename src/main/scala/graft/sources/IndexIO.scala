package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Atomic publish/resolve for persisted index directories (MinHash
  * band index, BM25 inverted index, IVF / IVF-SQ8 cells).
  *
  * An index is several parquet tables written by separate jobs
  * (postings + sketches + meta, or centroids + cells); plain
  * `mode("overwrite")` into fixed subdirs means a mid-build failure —
  * or a rebuild racing a long-lived reader such as the streaming
  * dedup gate, whose static side re-lists files per batch — can
  * expose an index whose tables disagree about their own parameters.
  *
  * The fix is the standard log-pointer layout:
  *
  *   - every build writes ALL its tables under a fresh
  *     `<path>/v-<uuid>/` directory, invisible to readers;
  *   - the version's `_SEGMENTS` file opens with the on-disk format
  *     stamp ([[FormatVersion]]) and lists the IMMUTABLE data
  *     directories that make up the index at that version (as
  *     directory names RELATIVE to the index base, so a moved or
  *     re-mounted index keeps its chains) — just itself for a full
  *     build, the parent's segments plus itself for an incremental
  *     append ([[publishDelta]]); readers scan the union, so "append"
  *     never rewrites or mutates existing data;
  *   - the single-file pointer `<path>/_LATEST` (the uuid, written via
  *     create-temp + atomic rename-overwrite) is flipped LAST;
  *   - readers resolve `_LATEST` once and then read only that
  *     version's segments, so a concurrent rebuild/append never
  *     mutates files under a reader — it publishes a sibling version
  *     and flips the pointer for FUTURE resolves.
  *
  * A failed build leaves the pointer on the previous complete version;
  * a path with no pointer fails loudly at resolve time instead of
  * probing torn tables. A version whose `_SEGMENTS` lacks the current
  * stamp is refused by every read and by every publish on top of it:
  * there is one on-disk format, and rebuilding is the only upgrade.
  *
  * Retention: publish-time pruning keeps the [[RetainVersions]] most
  * recently published COMPLETE versions (plus everything their segment
  * chains reference), so a long-lived reader — e.g. the streaming dedup
  * gate, which resolves its segments once at plan time — survives
  * `RetainVersions − 1` subsequent publishes, not just one. Directories
  * WITHOUT a `_SEGMENTS` file are never pruned: that file is written
  * last by the build, so its absence marks an IN-FLIGHT (or crashed)
  * build — a concurrent publisher finishing first must not delete a
  * sibling mid-build. Crashed-build debris is reclaimed by the explicit
  * [[vacuum]], which takes an age bound instead of guessing liveness.
  *
  * CONCURRENT-WRITER CONTRACT (at 100 TB two pipeline runs WILL race a
  * publish):
  *
  *   - FULL publishes ([[publish]] — rebuilds, compactions, syncs) are
  *     LAST-WINS on the pointer flip. Both versions are internally
  *     complete (each built its own `v-` dir and `_SEGMENTS` before
  *     flipping), both stay readable through the retention window
  *     ([[pin]] either), and no reader ever observes a torn mix. A
  *     full publish is a self-contained statement of the whole index,
  *     so losing the race loses no information the winner didn't
  *     recompute.
  *   - DELTA publishes ([[publishDelta]] — appends, tombstones,
  *     retractions) EXTEND the current chain, so two racing appends
  *     reading the same parent would each publish a chain missing the
  *     other's segment — silent data loss. They therefore serialize
  *     under the `_APPEND_LOCK` file (atomic create-no-overwrite,
  *     held from parent-chain read to pointer flip): the second
  *     appender blocks, re-reads the first's chain as its parent, and
  *     both segments land. A crashed holder's lock is taken over
  *     after [[AppendLockStaleMs]]; a live holder past the acquire
  *     timeout fails LOUDLY (never silently drops the append). The
  *     lock file rides the index directory itself, so it coordinates
  *     across JVMs on any store with atomic create (HDFS, POSIX; on
  *     object stores without it, keep one writer per index).
  *   - A FULL publish racing a DELTA is NOT serialized (a compact can
  *     collapse a chain while an append extends it — whichever flips
  *     last wins and the other's contribution needs replay). Inside
  *     the engine this race cannot happen: every maintainer runs its
  *     appends and compactions from one streaming thread, and batch
  *     compact/sync jobs own their index. Cross-process rewrites of a
  *     LIVE maintained index require external coordination; the
  *     applied-batch markers make a maintainer's replay converge
  *     after losing such a race.
  *   - [[vacuum]] racing a publisher is safe: an in-flight build has
  *     no `_SEGMENTS` yet and is younger than the stale bound, so
  *     vacuum skips it; committed versions within retention are
  *     pruning roots.
  */
object IndexIO {

  private val Pointer = "_LATEST"
  private val SegmentsFile = "_SEGMENTS"
  private val PinSep = "@v="
  private val AppendLockFile = "_APPEND_LOCK"

  /** The on-disk format every committed version carries, stamped as the
    * first line of its `_SEGMENTS` file (`format=<n>`). Checking it
    * costs no extra FS call: every read opens `_SEGMENTS` anyway.
    */
  private[graft] val FormatVersion = 2
  private val FormatPrefix = "format="

  /** How long a held append lock is trusted before a competing
    * publisher treats it as a crash leftover and takes it over. Delta
    * builds are batch-sized (a micro-batch's segment), so minutes of
    * hold time already means the holder died mid-publish.
    */
  private[sources] val AppendLockStaleMs: Long = 10L * 60 * 1000

  /** TIME-TRAVEL pin: the returned string is `path` fixed to one
    * RETAINED version — every read-side entry point ([[resolve]],
    * [[segments]], [[chainTable]], [[segmentMarkers]], [[exists]], and
    * through them every `*FromIndex`/`*SearchIndex` serving call in
    * the repo) accepts it in place of the plain path and reads THAT
    * version's segment chain, ignoring `_LATEST`. This is how a
    * training run records exactly which index it read (pin at launch
    * via [[currentVersionId]], persist the pinned string with the run)
    * and how an audit replays it later, regardless of appends,
    * compactions, or re-syncs published since.
    *
    * The pin is read-only: [[publish]]/[[publishDelta]]/[[vacuum]]
    * reject pinned paths loudly. A pin resolves only while its version
    * survives retention ([[RetainVersions]] publishes, or longer under
    * an explicit [[vacuum]] policy) — a pruned pin fails at resolve
    * with a missing-version error, never silently serves newer data.
    */
  def pin(path: String, version: String): String = {
    require(version.nonEmpty && version.forall(_.isLetterOrDigit),
      s"IndexIO.pin: version must be alphanumeric, got '$version'")
    require(splitPin(path)._2.isEmpty,
      s"IndexIO.pin: path already pinned: $path")
    s"$path$PinSep$version"
  }

  private def splitPin(path: String): (String, Option[String]) = {
    val i = path.lastIndexOf(PinSep)
    // only a suffix that [[pin]] could have produced (non-empty,
    // alphanumeric, no '/') is a pin — '@v=' is a legal substring of a
    // POSIX path or URI, and treating any occurrence as a pin would
    // silently resolve a bogus version on read and reject publishes
    // on a perfectly writable index
    if (i < 0) (path, None)
    else {
      val v = path.substring(i + PinSep.length)
      if (v.nonEmpty && v.forall(_.isLetterOrDigit))
        (path.substring(0, i), Some(v))
      else (path, None)
    }
  }

  private def requireUnpinned(path: String, op: String): Unit =
    require(splitPin(path)._2.isEmpty,
      s"IndexIO.$op: a version-pinned path is read-only, got $path")

  /** The bare version id `_LATEST` names right now — capture it before
    * a run and serve from `pin(path, id)` to keep the run's index view
    * frozen across concurrent publishes.
    */
  def currentVersionId(spark: SparkSession, path: String): String = {
    requireUnpinned(path, "currentVersionId")
    currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed index at $path: $Pointer missing"))
  }

  /** PROTECT a version from retention: a `_KEEP.<id>` marker makes the
    * version (and every segment its chain references) a pruning root —
    * it survives any number of later publishes AND explicit [[vacuum]]
    * calls until [[release]]d. `pin` + `retain` is the durable audit
    * handle: a training run that must replay its index view months
    * later retains the version at launch and releases it when the
    * run's artifacts expire; without a retain, a pin is only valid
    * for the [[RetainVersions]]-publish window.
    */
  def retain(spark: SparkSession, path: String, version: String): Unit = {
    requireUnpinned(path, "retain")
    require(version.nonEmpty && version.forall(_.isLetterOrDigit),
      s"IndexIO.retain: version must be alphanumeric, got '$version'")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vdir = versionDir(base, version)
    require(fs.exists(new Path(vdir, SegmentsFile)),
      s"IndexIO.retain: no complete version $version at $path")
    writeFile(fs, new Path(base, s"$KeepPrefix$version"), "")
    // retain races prune: a concurrent publish (or vacuum) reads the
    // _KEEP markers once at its start, so a marker landing after that
    // scan does not protect this version from THAT pruning pass. The
    // marker is durable from here on, but the chain may already be
    // gone — re-verify and fail loudly (cleaning up the useless
    // marker) rather than hand back a "durable" handle to deleted
    // data. Callers should retain a version still well inside the
    // RetainVersions window (e.g. the one currentVersionId just
    // returned) and may simply retry on this failure.
    if (!fs.exists(new Path(vdir, SegmentsFile))) {
      fs.delete(new Path(base, s"$KeepPrefix$version"), false)
      throw new IllegalStateException(
        s"IndexIO.retain: version $version at $path was pruned by a " +
          "concurrent publish/vacuum before the retain landed — retain " +
          "a version inside the retention window and retry")
    }
  }

  /** Drop a [[retain]] marker — the version re-enters normal
    * retention and is reclaimed by the next publish or [[vacuum]]
    * once outside the window. Idempotent.
    */
  def release(spark: SparkSession, path: String, version: String): Unit = {
    requireUnpinned(path, "release")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base, s"$KeepPrefix$version"), false)
    ()
  }

  /** Version ids currently protected by [[retain]] markers. */
  def retained(spark: SparkSession, path: String): Set[String] = {
    requireUnpinned(path, "retained")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Set.empty
    fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(KeepPrefix))
      .map(_.stripPrefix(KeepPrefix)).toSet
  }

  private val KeepPrefix = "_KEEP."

  /** COMPLETE (committed) version ids at `path`, newest publish first
    * — the pinnable time-travel window. The id `_LATEST` names is
    * first unless an mtime tie reorders rapid publishes; in-flight or
    * crashed builds (no `_SEGMENTS`) are excluded.
    */
  def versions(spark: SparkSession, path: String): Seq[String] = {
    requireUnpinned(path, "versions")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .flatMap { st =>
        val seg = new Path(st.getPath, SegmentsFile)
        if (fs.exists(seg))
          Some((st.getPath.getName.stripPrefix("v-"),
            fs.getFileStatus(seg).getModificationTime))
        else None
      }
      .sortBy { case (n, m) => (-m, n) }
      .map(_._1)
  }

  /** Complete versions kept by publish-time pruning (newest-first by
    * publish order). 3 = the new version, the pre-flip version a
    * current reader may hold, and one more so a reader that resolved
    * JUST before the pre-flip publish still has its segments.
    */
  val RetainVersions = 3

  /** Run `build` against a fresh version directory under `path`, then
    * atomically flip `<path>/_LATEST` to it. Returns the published
    * version directory.
    */
  def publish(spark: SparkSession, path: String)(build: String => Unit): String =
    publishInternal(spark, path, delta = false, marker = None)(build)

  /** [[publish]] carrying an applied-batch `marker` (see
    * [[segmentMarkers]]) — the bootstrap-from-a-stream-batch form.
    */
  def publish(spark: SparkSession, path: String, marker: String)(
      build: String => Unit): String =
    publishInternal(spark, path, delta = false, marker = Some(marker))(build)

  /** Like [[publish]], but the new version EXTENDS the current one:
    * its segment list is the parent's plus the fresh directory, so
    * readers see old + new data without any rewrite of the old — the
    * append lifecycle of a growing index. Requires a committed base.
    */
  def publishDelta(spark: SparkSession, path: String)(build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = None)(build)

  /** [[publishDelta]] carrying an applied-batch `marker`. */
  def publishDelta(spark: SparkSession, path: String, marker: String)(
      build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = Some(marker))(build)

  /** Optional-marker forms — operators whose `marker: Option[String]`
    * parameter defaults to None call these directly instead of each
    * wiring its own Some/None match onto the String overloads.
    */
  def publish(spark: SparkSession, path: String, marker: Option[String])(
      build: String => Unit): String =
    publishInternal(spark, path, delta = false, marker = marker)(build)

  def publishDelta(spark: SparkSession, path: String, marker: Option[String])(
      build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = marker)(build)

  /** [[publishDelta]] with a caller-chosen append-lock acquire timeout
    * — for batch jobs that would rather fail fast than wait the
    * default minute behind a slow concurrent appender.
    */
  def publishDeltaWithTimeout(
      spark: SparkSession, path: String, timeoutMs: Long,
      marker: Option[String] = None)(build: String => Unit): String =
    publishInternal(spark, path, delta = true, marker = marker,
      lockTimeoutMs = timeoutMs)(build)

  /** Serialize delta publishers (see the header's concurrent-writer
    * contract): hold `<base>/_APPEND_LOCK` from parent-chain read to
    * pointer flip. Atomic acquisition via create-no-overwrite; a lock
    * older than [[AppendLockStaleMs]] is a crash leftover and is taken
    * over; a LIVE holder past `timeoutMs` fails loudly — an append
    * must never be dropped silently.
    */
  private def withAppendLock[T](
      fs: FileSystem, base: Path, timeoutMs: Long = 60000L)(f: => T): T =
    withLock(fs, base, AppendLockFile, timeoutMs, AppendLockStaleMs)(f)

  private def withLock[T](
      fs: FileSystem, base: Path, name: String,
      timeoutMs: Long, staleMs: Long)(f: => T): T = {
    val lock = new Path(base, name)
    if (!fs.exists(base)) fs.mkdirs(base)
    // atomic create-no-overwrite. Hadoop's LOCAL FileSystem implements
    // create(overwrite=false) as exists-check-then-create — NOT atomic,
    // two racers both "win" — so the file: scheme goes through
    // java.io.File.createNewFile (O_CREAT|O_EXCL, atomic across
    // processes); HDFS-like stores enforce no-overwrite server-side.
    val scheme = Option(lock.toUri.getScheme).getOrElse("file")
    def tryCreate(): Boolean =
      if (scheme == "file") {
        val f = new java.io.File(lock.toUri.getPath)
        f.createNewFile() && { // stamp for the stale rule
          val w = new java.io.FileOutputStream(f)
          try w.write(System.currentTimeMillis().toString
            .getBytes(StandardCharsets.UTF_8))
          finally w.close()
          true
        }
      } else {
        try {
          val out = fs.create(lock, false)
          try out.write(System.currentTimeMillis().toString
            .getBytes(StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      }
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      if (tryCreate()) acquired = true
      else {
        val stale =
          try {
            val st = fs.getFileStatus(lock)
            System.currentTimeMillis() - st.getModificationTime > staleMs
          } catch { case _: java.io.FileNotFoundException => true }
        if (stale) {
          // crash leftover: delete and retry the atomic create (a
          // concurrent taker-over may win the re-create — fine, we
          // loop back into the wait)
          try fs.delete(lock, false) catch { case _: java.io.IOException => () }
        } else if (System.currentTimeMillis() > deadline) {
          throw new IllegalStateException(
            s"IndexIO: could not acquire $lock within ${timeoutMs} ms — " +
              "another publisher holds it (a crashed holder's lock is " +
              s"taken over after $staleMs ms)")
        } else Thread.sleep(50)
      }
    }
    try f finally {
      try fs.delete(lock, false) catch { case _: java.io.IOException => () }
    }
  }

  private def publishInternal(
      spark: SparkSession, path: String, delta: Boolean,
      marker: Option[String], lockTimeoutMs: Long = 60000L)(
      build: String => Unit): String = {
    requireUnpinned(path, "publish")
    marker.foreach { m =>
      require(m.nonEmpty && m.forall(c =>
          c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
        s"IndexIO: marker must be [A-Za-z0-9._-]+, got '$m'")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    if (delta)
      return withAppendLock(fs, base, lockTimeoutMs)(
        publishBody(spark, path, delta, marker, conf, base, fs)(build))
    publishBody(spark, path, delta, marker, conf, base, fs)(build)
  }

  private def publishBody(
      spark: SparkSession, path: String, delta: Boolean,
      marker: Option[String], conf: org.apache.hadoop.conf.Configuration,
      base: Path, fs: FileSystem)(build: String => Unit): String = {
    val previous = currentVersion(spark, path)
    // the parent (chain, applied-batch markers) is read through the
    // format check, so neither an append nor a rebuild ever lands on top
    // of a layout this build can't read
    val parent: Option[(Seq[String], Seq[String])] = previous.flatMap(v =>
      committedChain(fs, base, v, pinned = false)
        .map(_ -> chainMarkers(fs, versionDir(base, v))))
    if (delta && parent.isEmpty) throw new IllegalStateException(
      s"cannot append to $path: no committed base index (" +
        previous.fold(s"$Pointer missing")(v => s"$Pointer names missing version $v") + ")")
    val version = java.util.UUID.randomUUID().toString.replace("-", "")
    val vdir = versionDir(base, version)
    build(vdir.toString)
    // the chain's applied-batch markers, one `_MARKERS` file in the
    // version dir: written before `_SEGMENTS` and the pointer flip, so a
    // marker is visible iff its append is. A FULL publish (compaction,
    // rebuild) carries the parent's set forward — collapsing segments
    // must not forget which stream batches the collapsed data contains,
    // or a post-compaction replay would double-append.
    writeFile(fs, new Path(vdir, MarkersFile),
      (parent.toSeq.flatMap(_._2) ++ marker).distinct.mkString("\n"))
    val newSegments =
      (if (delta) parent.get._1 else Seq.empty) :+ vdir.toString
    // segment entries are stored as names relative to the index base so
    // the chain survives a directory move/rename or a different mount URI
    writeFile(fs, new Path(vdir, SegmentsFile),
      (s"$FormatPrefix$FormatVersion" +: newSegments.map(p => new Path(p).getName))
        .mkString("\n"))
    // FileContext.rename(OVERWRITE) is the atomic single-file swap on
    // HDFS-like stores (FileSystem.rename refuses an existing target).
    // On the LOCAL (Checksum) filesystem it is check-delete-rename of
    // the data file AND its .crc sidecar, so two racing flips can
    // interleave into FileAlreadyExists or a pointer whose crc belongs
    // to the loser — the millisecond flip therefore serializes under
    // its own lock (full publishes stay lock-free for the whole BUILD;
    // only the pointer swap, not the minutes of table writing, takes
    // it). Last-wins: whoever enters the flip section last leaves its
    // version live; both versions are already durable and complete.
    withLock(fs, base, s".$Pointer.flip_lock", 30000L, 60000L) {
      val tmp = new Path(base, s".$Pointer.$version")
      writeFile(fs, tmp, version)
      FileContext.getFileContext(base.toUri, conf)
        .rename(tmp, new Path(base, Pointer), Options.Rename.OVERWRITE)
    }
    prune(fs, base, RetainVersions, PruneGraceMs)
    vdir.toString
  }

  /** The applied-batch markers of the CURRENT index (empty when none is
    * committed). A streaming maintainer records its micro-batch id here
    * atomically with the appended data and skips batches already
    * present — exactly-once index maintenance under foreachBatch's
    * at-least-once replay ([[
    * graft.streaming.Streaming.maintainBm25Index]]).
    */
  def segmentMarkers(spark: SparkSession, path: String): Set[String] =
    segmentMarkersIfExists(spark, path).getOrElse(Set.empty)

  /** [[segmentMarkers]] with the "is there a committed index at all"
    * probe fused in: `None` when no committed version exists (the
    * [[exists]] condition), else the marker set. The streaming
    * maintainers' per-batch decision (bootstrap? replayed? append?)
    * is ONE index-state read instead of the exists + segmentMarkers
    * pair — per-micro-batch driver round-trips are the object-store
    * tax at 100 TB.
    */
  def segmentMarkersIfExists(
      spark: SparkSession, path: String): Option[Set[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (baseStr, pinned) = splitPin(path)
    val base = new Path(baseStr)
    val fs = base.getFileSystem(conf)
    currentVersion(spark, path).flatMap { v =>
      committedChain(fs, base, v, pinned.isDefined)
        .map(_ => chainMarkers(fs, versionDir(base, v)).toSet)
    }
  }

  private val MarkersFile = "_MARKERS"

  /** The chain's full marker set, one read of the version's `_MARKERS`.
    * Every publish writes the file, so a failed read propagates: an
    * empty set would make a maintainer re-append a replayed batch.
    */
  private def chainMarkers(fs: FileSystem, vdir: Path): Seq[String] =
    readFile(fs, new Path(vdir, MarkersFile))
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Drop complete version dirs not reachable from the `retain` most
    * recently published versions' segment chains. In-flight dirs (no
    * `_SEGMENTS` yet) are never touched — see the retention contract in
    * the object scaladoc.
    */
  private def prune(fs: FileSystem, base: Path, retain: Int,
      graceMs: Long): Unit = {
    val vdirs = fs.listStatus(base).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("v-"))
    val complete = vdirs.flatMap { st =>
      val seg = new Path(st.getPath, SegmentsFile)
      if (fs.exists(seg)) Some(st.getPath -> fs.getFileStatus(seg).getModificationTime)
      else None
    }
    // the version _LATEST names is live BY DEFINITION and must survive
    // regardless of mtime ordering: object stores round mtimes to
    // seconds, so rapid publishes tie and a stable sort could rank the
    // pointed-at version out of the retain window — deleting the dir
    // the pointer names bricks the index
    val pointerFile = new Path(base, Pointer)
    // the pointer stores the bare version id; dirs are named v-<id>
    val pointed: Set[String] =
      if (fs.exists(pointerFile))
        Set(versionDir(base, readFile(fs, pointerFile).trim).getName)
      else Set.empty
    // _KEEP.<id> markers (IndexIO.retain) are additional roots: a
    // protected version and its whole segment chain survive every
    // publish and vacuum until released
    val protectedDirs: Set[String] = fs.listStatus(base).toSeq
      .map(_.getPath.getName).filter(_.startsWith(KeepPrefix))
      .map(n => s"v-${n.stripPrefix(KeepPrefix)}").toSet
    val kept = complete
      .sortBy { case (p, m) => (-m, p.getName) } // total order even on mtime ties
      .take(math.max(retain, 1)).map(_._1) ++
      complete.map(_._1).filter(p =>
        pointed.contains(p.getName) || protectedDirs.contains(p.getName))
    val keep = kept.flatMap(v => readChain(fs, v).toSeq.flatten.map(p => new Path(p).getName))
      .toSet ++ kept.map(_.getName)
    // PRUNE GRACE (publish-time only): a version published moments ago
    // may be mid-read by a concurrent query that resolved it before
    // later publishes pushed it out of the retain window
    // (build-if-missing races publish several identical versions back
    // to back; at 100 TB two pipeline runs do the same). A reader's
    // resolve-to-last-read span is seconds to minutes, so publish-time
    // pruning never reclaims versions younger than the grace — the
    // RetainVersions guarantee becomes time-based instead of
    // publish-count-based under rapid publishing. Explicit [[vacuum]]
    // passes graceMs=0: it is documented as the maintenance-window
    // reclaim that KNOWS no concurrent reader/build is in flight.
    val now = System.currentTimeMillis()
    complete.foreach { case (p, m) =>
      if (!keep.contains(p.getName) && now - m > graceMs)
        fs.delete(p, true)
    }
  }

  /** How long a freshly published (complete) version is immune to
    * publish-time pruning — see the grace note in [[prune]]. Overridable
    * for tests that assert the retain-count bound itself.
    */
  @volatile private[graft] var PruneGraceMs: Long = 10L * 60 * 1000

  /** Explicit GC for index directories: apply the [[prune]] retention
    * policy with a caller-chosen version count AND reclaim in-flight
    * debris (dirs without `_SEGMENTS`) older than `staleAfterMs` —
    * crashed builds never finish, so age is the only liveness signal.
    * Publish-time pruning deliberately never touches those (a live
    * concurrent build looks identical); run vacuum from a maintenance
    * job that knows no build is in flight, or with a generous age.
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = RetainVersions,
      staleAfterMs: Long = 24L * 3600 * 1000): Unit = {
    requireUnpinned(path, "vacuum")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    prune(fs, base, retainVersions, graceMs = 0L)
    val now = System.currentTimeMillis()
    fs.listStatus(base).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("v-") &&
          !fs.exists(new Path(st.getPath, SegmentsFile)) &&
          now - st.getModificationTime > staleAfterMs)
        fs.delete(st.getPath, true)
      // a crashed publisher's lock files are normally adopted by the
      // next writer (withLock's stale rule); vacuum reclaims them on
      // idle indexes too so a dead lock never outlives its debris
      if (st.isFile &&
          (st.getPath.getName == AppendLockFile ||
            st.getPath.getName == s".$Pointer.flip_lock") &&
          now - st.getModificationTime > AppendLockStaleMs)
        fs.delete(st.getPath, false)
    }
  }

  /** True when `path` holds a committed index — the build-or-reuse probe
    * for callers that want to skip a rebuild when a published version
    * already exists. A pointer whose version dir was removed (external
    * vacuum, partial /tmp cleanup) reads as "no committed index" so the
    * caller rebuilds instead of failing at resolve() for the rest of
    * the JVM's lifetime.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    currentVersion(spark, path).exists { v =>
      val vdir = versionDir(new Path(splitPin(path)._1), v)
      vdir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(vdir)
    }

  /** The committed version directory under `path`, or a loud error if
    * no build ever published (or the published version was removed, or
    * carries another on-disk format). A [[pin]]ned path resolves its
    * pinned version instead of `_LATEST` — missing (pruned) pins fail
    * here, loudly.
    */
  def resolve(spark: SparkSession, path: String): String =
    resolveChain(spark, path)._1.toString

  /** The immutable data directories making up the CURRENT index at
    * `path` (oldest first): one for a plain build, the whole append
    * chain for an incrementally-grown index. Readers union these.
    */
  def segments(spark: SparkSession, path: String): Seq[String] =
    resolveChain(spark, path)._2

  /** [[resolve]] and [[segments]] from ONE read of the version's
    * `_SEGMENTS`: the file marks the version committed, lists its chain
    * and carries the format stamp.
    */
  private def resolveChain(spark: SparkSession, path: String): (Path, Seq[String]) = {
    val (baseStr, pinned) = splitPin(path)
    val version = currentVersion(spark, path).getOrElse(throw new IllegalStateException(
      s"no committed index at $path: $Pointer missing — " +
        "either no build ran or it failed before publish"))
    val base = new Path(baseStr)
    val vdir = versionDir(base, version)
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chain = committedChain(fs, base, version, pinned.isDefined)
      .getOrElse(throw new IllegalStateException(
        if (pinned.isDefined)
          s"pinned version $version at $baseStr is gone — pruned by a later " +
            "publish/vacuum, or never published; pin within the retention window"
        else s"index pointer at $baseStr names missing version $version"))
    (vdir, chain)
  }

  /** [[segments]] with the committed-index probe fused in: `None` when
    * no committed version exists, else the chain. One index-state read
    * for callers that would otherwise pair `exists` + `segments` (the
    * maintainers' per-batch compaction-cadence check).
    */
  def segmentsIfExists(spark: SparkSession, path: String): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (baseStr, pinned) = splitPin(path)
    val base = new Path(baseStr)
    val fs = base.getFileSystem(conf)
    currentVersion(spark, path).flatMap(v =>
      committedChain(fs, base, v, pinned.isDefined))
  }

  /** Chain-ordered union of `<segment>/<name>` across the CURRENT
    * index, each row tagged with its segment's chain position in
    * `__seg` (0 = oldest). Segments lacking the table are skipped —
    * that is how tombstone-only delete segments coexist with data
    * segments. None when no segment carries the table.
    */
  def chainTable(spark: SparkSession, path: String, name: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    segments(spark, path).zipWithIndex.flatMap { case (s, i) =>
      val p = new Path(s, name)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p))
        Some(spark.read.parquet(p.toString)
          .withColumn("__seg", org.apache.spark.sql.functions.lit(i)))
      else None
    }.reduceOption(_.unionByName(_))
  }

  /** One-row OPERATIONAL summary of a persisted index — the
    * `DESCRIBE INDEX` every maintenance job wants before deciding to
    * compact, vacuum, or retrain: retained version count (the
    * time-travel window), live segment-chain length (the serving-cost
    * driver — every probe unions one scan per segment), applied-batch
    * marker count (how many stream batches the chain contains), and
    * the `table`'s total / live / tombstoned row counts under the
    * log-ordered delete semantics ([[withoutTombstoned]]). Works on a
    * [[pin]]ned path too (describes THAT version; the version count
    * still reports the whole directory). Driver cost: one chain
    * listing + three counting jobs over the chain's slim tables —
    * never the corpus.
    */
  def describe(spark: SparkSession, path: String,
      table: String, idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val nVersions = versions(spark, splitPin(path)._1).size.toLong
    val segs = segments(spark, path)
    val markers = segmentMarkers(spark, path)
    val data = chainTable(spark, path, table)
    val tomb = chainTable(spark, path, "tombstones")
    val total = data.map(_.count()).getOrElse(0L)
    val live = data.map(d => withoutTombstoned(d, tomb, idCol).count())
      .getOrElse(0L)
    val nTombIds = tomb.map(_.select(idCol).distinct().count()).getOrElse(0L)
    Seq((nVersions, segs.size.toLong, markers.size.toLong,
        total, live, nTombIds))
      .toDF("n_versions", "n_segments", "n_markers",
        "n_rows_total", "n_rows_live", "n_tombstone_ids")
      .withColumn("table_name", lit(table))
  }

  /** Log-structured delete semantics over a [[chainTable]] pair: a data
    * row is DEAD iff a tombstone for its id sits LATER in the chain —
    * so deletes only affect data already in the index when they were
    * published, and re-appending an id after its delete resurrects it
    * (the usual LSM/Delta contract). Tombstone sets are takedown-sized
    * (tiny next to the corpus), so the anti-join broadcasts them.
    * Drops the `__seg` ordinal from the surviving rows.
    */
  def withoutTombstoned(
      data: org.apache.spark.sql.DataFrame,
      tombstones: Option[org.apache.spark.sql.DataFrame],
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    tombstones match {
      case None => data.drop("__seg")
      case Some(t) =>
        val tt = broadcast(t.select(col(idCol).as("__tid"), col("__seg").as("__tseg")))
        data.join(tt,
            data(idCol) === tt("__tid") && tt("__tseg") > data("__seg"), "left_anti")
          .drop("__seg")
    }
  }

  private def versionDir(base: Path, version: String): Path =
    new Path(base, s"v-$version")

  /** The segment chain (oldest first) of the version at `vdir`, after
    * checking its format stamp; None when it has no `_SEGMENTS`.
    */
  private def readChain(fs: FileSystem, vdir: Path): Option[Seq[String]] = {
    val lines =
      try readFile(fs, new Path(vdir, SegmentsFile))
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      catch { case _: java.io.FileNotFoundException => return None }
    val found = lines.headOption.filter(_.startsWith(FormatPrefix))
    if (!found.contains(s"$FormatPrefix$FormatVersion"))
      throw formatError(vdir,
        found.fold("none (unstamped _SEGMENTS)")(_.stripPrefix(FormatPrefix)))
    Some(lines.tail.map(e => new Path(vdir.getParent, e).toString))
  }

  /** [[readChain]] of a version a pointer or pin names: None when its
    * directory is gone (a dangling pointer reads as no index). A version
    * dir without `_SEGMENTS` is never a committed current-format
    * version: publishes write the file before the pointer flip.
    */
  private def committedChain(fs: FileSystem, base: Path, version: String,
      pinned: Boolean): Option[Seq[String]] = {
    val vdir = versionDir(base, version)
    readChain(fs, vdir).orElse {
      if (!fs.exists(vdir)) None
      else if (pinned) throw new IllegalStateException(
        s"pinned version $version at $base is incomplete (no " +
          s"$SegmentsFile) — it names an in-flight or crashed build, " +
          "not a published version; pin currentVersionId() instead")
      else throw formatError(vdir, s"none (no $SegmentsFile)")
    }
  }

  private def formatError(vdir: Path, found: String): IllegalStateException =
    new IllegalStateException(
      s"index at ${vdir.getParent} (${vdir.getName}) has on-disk format " +
        s"$found, expected format $FormatVersion — remove the directory " +
        "and rebuild with the family's build function")

  private def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def currentVersion(spark: SparkSession, path: String): Option[String] = {
    val (base, pinned) = splitPin(path)
    if (pinned.isDefined) return pinned
    val ptr = new Path(new Path(base), Pointer)
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The pointer flip is atomic on HDFS-like stores, but on the LOCAL
    // (Checksum) filesystem FileContext.rename(OVERWRITE) is
    // check-delete-rename of the data file and its .crc sidecar, so a
    // reader racing a flip can observe a microsecond window where
    // `_LATEST` is absent or its checksum torn. Writers serialize under
    // the flip lock; readers close the window by re-checking briefly —
    // but ONLY when a committed (`_SEGMENTS`-bearing) version dir is
    // already on disk, which is the precondition for a flip to be in
    // flight. A genuinely unbuilt index (no committed version) returns
    // None after one extra listing, keeping the cold build-if-missing
    // probe sleep-free.
    var attempt = 0
    while (true) {
      try return Some(readFile(fs, ptr).trim).filter(_.nonEmpty)
      catch { case _: java.io.IOException => () /* absent, or torn crc mid-flip */ }
      val committedOnDisk =
        try fs.exists(new Path(base)) && fs.listStatus(new Path(base)).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("v-") &&
            fs.exists(new Path(st.getPath, SegmentsFile)))
        catch { case _: java.io.IOException => false }
      if (!committedOnDisk) return None
      attempt += 1
      if (attempt >= 5) return None
      Thread.sleep(40L * attempt)
    }
    None // unreachable
  }
}
