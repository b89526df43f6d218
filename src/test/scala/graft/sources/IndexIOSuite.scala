package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Atomic versioned index publish/resolve: the lifecycle contract every
  * persisted index (minhash, bm25, ivf) builds on.
  */
class IndexIOSuite extends SparkSpec {
  import spark.implicits._

  private def newBase(): String =
    Files.createTempDirectory("graft_indexio").toString

  private def writeTable(vdir: String, name: String, rows: Seq[Int]): Unit =
    rows.toDF("x").write.mode("overwrite").parquet(s"$vdir/$name")

  test("publish then resolve returns a complete version; rebuild flips the pointer") {
    val base = newBase()
    val v1 = IndexIO.publish(spark, base) { vdir =>
      writeTable(vdir, "a", Seq(1, 2)); writeTable(vdir, "b", Seq(3))
    }
    assert(IndexIO.resolve(spark, base) == v1)
    assert(spark.read.parquet(s"$v1/a").count() == 2)
    val v2 = IndexIO.publish(spark, base) { vdir =>
      writeTable(vdir, "a", Seq(9)); writeTable(vdir, "b", Seq(8))
    }
    assert(v2 != v1)
    assert(IndexIO.resolve(spark, base) == v2)
    assert(spark.read.parquet(s"${IndexIO.resolve(spark, base)}/a").count() == 1)
  }

  test("exists: false before publish, true after, false again on a dangling pointer") {
    val base = newBase()
    assert(!IndexIO.exists(spark, base))
    val v1 = IndexIO.publish(spark, base) { vdir => writeTable(vdir, "a", Seq(1)) }
    assert(IndexIO.exists(spark, base))
    // external vacuum / partial /tmp cleanup removes the version dir
    // but leaves _LATEST: exists must read as "no committed index" so
    // build-or-reuse callers rebuild instead of failing at resolve()
    // for the rest of the JVM's lifetime
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(v1))
    assert(!IndexIO.exists(spark, base))
    // and a rebuild through the normal path heals it
    IndexIO.publish(spark, base) { vdir => writeTable(vdir, "a", Seq(2)) }
    assert(IndexIO.exists(spark, base))
    assert(spark.read.parquet(s"${IndexIO.resolve(spark, base)}/a").count() == 1)
  }

  test("a failed build leaves the pointer on the previous complete version") {
    val base = newBase()
    val v1 = IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    intercept[RuntimeException] {
      IndexIO.publish(spark, base) { vdir =>
        writeTable(vdir, "a", Seq(2))
        throw new RuntimeException("mid-build crash before all tables landed")
      }
    }
    // readers still get the complete v1 — never the torn partial build
    assert(IndexIO.resolve(spark, base) == v1)
    assert(spark.read.parquet(s"${IndexIO.resolve(spark, base)}/a")
      .as[Int].collect().toSeq == Seq(1))
  }

  test("resolve on a never-published path fails loudly, not with a parquet probe error") {
    val base = newBase()
    // even a torn build's version dir must not be picked up
    Files.createDirectories(java.nio.file.Paths.get(s"$base/v-deadbeef"))
    val ex = intercept[IllegalStateException](IndexIO.resolve(spark, base))
    assert(ex.getMessage.contains("no committed index"), ex.getMessage)
  }

  test("publishDelta chains immutable segments; readers union; prune keeps the chain") {
    val base = newBase()
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1, 2)))
    IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(3)))
    IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(4, 5)))
    val segs = IndexIO.segments(spark, base)
    assert(segs.length == 3, s"expected a 3-segment chain, got $segs")
    val union = segs.map(s => spark.read.parquet(s"$s/a")).reduce(_ union _)
      .as[Int].collect().toSet
    assert(union == Set(1, 2, 3, 4, 5))
    // every chained segment dir survives pruning (they back the data)
    segs.foreach(s => assert(new java.io.File(s).isDirectory, s"pruned live segment $s"))
    // a full rebuild starts a fresh single-segment chain
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(9)))
    assert(IndexIO.segments(spark, base).length == 1)
  }

  test("segment markers: atomic with their segment, carried by full publishes") {
    val base = newBase()
    IndexIO.publish(spark, base, "b0")(vdir => writeTable(vdir, "a", Seq(1)))
    IndexIO.publishDelta(spark, base, "b1")(vdir => writeTable(vdir, "a", Seq(2)))
    IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(3)))
    assert(IndexIO.segmentMarkers(spark, base) == Set("b0", "b1"))
    // a FULL publish (compaction/rebuild) carries the union forward —
    // collapsing segments must not forget applied batches
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1, 2, 3)))
    assert(IndexIO.segments(spark, base).length == 1)
    assert(IndexIO.segmentMarkers(spark, base) == Set("b0", "b1"))
    // markers compose with further deltas after the collapse
    IndexIO.publishDelta(spark, base, "b2")(vdir => writeTable(vdir, "a", Seq(4)))
    assert(IndexIO.segmentMarkers(spark, base) == Set("b0", "b1", "b2"))
    // marker names are sanitized (they become file names)
    intercept[IllegalArgumentException] {
      IndexIO.publishDelta(spark, base, "../evil")(vdir =>
        writeTable(vdir, "a", Seq(9)))
    }
  }

  test("a version without the current format stamp is refused by every read and publish") {
    def refusedEverywhere(header: Option[String], found: String): Unit = {
      val base = newBase()
      IndexIO.publish(spark, base, "b0")(vdir => writeTable(vdir, "a", Seq(1)))
      IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(2)))
      val v = IndexIO.currentVersionId(spark, base)
      restampSegments(base, header)
      def refused(f: => Any): Unit = {
        val m = intercept[IllegalStateException](f).getMessage
        assert(m.contains(base) && m.contains(s"format $found") &&
          m.contains(s"expected format ${IndexIO.FormatVersion}") &&
          m.contains("remove the directory and rebuild"), m)
      }
      refused(IndexIO.resolve(spark, base))
      refused(IndexIO.segments(spark, base))
      refused(IndexIO.segmentsIfExists(spark, base))
      refused(IndexIO.chainTable(spark, base, "a"))
      refused(IndexIO.segmentMarkersIfExists(spark, base))
      refused(IndexIO.resolve(spark, IndexIO.pin(base, v)))
      var built = false
      refused(IndexIO.publishDelta(spark, base) { _ => built = true })
      refused(IndexIO.publish(spark, base) { _ => built = true })
      assert(!built, "a refused publish must not run its build")
      assert(IndexIO.currentVersionId(spark, base) == v)
    }
    // the layout builds wrote before the stamp: segment names only
    refusedEverywhere(None, "none (unstamped _SEGMENTS)")
    // a stamp naming another format
    refusedEverywhere(Some("format=1"), "1")
  }

  test("publishDelta without a committed base fails loudly") {
    val base = newBase()
    val ex = intercept[IllegalStateException] {
      IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    }
    assert(ex.getMessage.contains("no committed base"), ex.getMessage)
  }

  test("a reader holding a resolved version survives RetainVersions-1 rebuilds") {
    val base = newBase()
    // pin the publish-time prune grace to 0 so this test exercises the
    // retain-COUNT bound itself; the grace has its own test below
    val savedGrace = IndexIO.PruneGraceMs
    IndexIO.PruneGraceMs = 0L
    try {
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1, 2, 3)))
    val held = IndexIO.resolve(spark, base)
    val df = spark.read.parquet(s"$held/a") // long-lived plan, re-lists files per action
    // a reader that resolved once (the streaming gate shape) keeps its
    // segments through RetainVersions-1 = 2 subsequent publishes
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(7)))
    assert(df.count() == 3)
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(8)))
    assert(df.count() == 3)
    // and superseded versions DO get pruned eventually: after a third
    // publish the held version is outside the retention window
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(9)))
    val vdirs = new java.io.File(base).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-")).map(_.getName)
    assert(vdirs.length == IndexIO.RetainVersions,
      s"expected ${IndexIO.RetainVersions} kept versions, got: ${vdirs.toSeq}")
    assert(!vdirs.contains(new java.io.File(held).getName),
      s"4-publishes-old version should be pruned: ${vdirs.toSeq}")
    } finally IndexIO.PruneGraceMs = savedGrace
  }

  test("publish-time prune grace: a freshly published version is never reclaimed under a reader") {
    // build-if-missing races (and two pipeline runs at 100 TB) publish
    // several identical versions back to back; a reader that resolved
    // any of them must not have its files deleted by a later publisher's
    // retention pass. With the default grace every version published
    // in the last PruneGraceMs survives, regardless of the retain count.
    val base = newBase()
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1, 2, 3)))
    val held = IndexIO.resolve(spark, base)
    val df = spark.read.parquet(s"$held/a")
    // push the held version well past the retain-count window
    (1 to IndexIO.RetainVersions + 2).foreach(i =>
      IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(i))))
    assert(df.count() == 3,
      "a version published moments ago must survive publish-time pruning")
    // explicit vacuum (the maintenance-window reclaim) still prunes by
    // count alone — the grace applies only to publish-time pruning
    IndexIO.vacuum(spark, base, retainVersions = 1)
    val vdirs = new java.io.File(base).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-")).map(_.getName)
    assert(!vdirs.contains(new java.io.File(held).getName),
      s"vacuum should reclaim the superseded version: ${vdirs.toSeq}")
  }

  test("an in-flight sibling build is never pruned by a finishing publisher") {
    val base = newBase()
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    // simulate a concurrent publisher mid-build: data written, no
    // _SEGMENTS yet (that file lands last)
    val inflight = s"$base/v-00000000inflight"
    writeTable(inflight, "a", Seq(42))
    (1 to 4).foreach(i => IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(i))))
    assert(new java.io.File(inflight).isDirectory,
      "publish pruned a sibling build that had not yet published")
    // vacuum with an age bound reclaims it once it is genuinely stale
    IndexIO.vacuum(spark, base, staleAfterMs = 0L)
    assert(!new java.io.File(inflight).exists(), "vacuum should reclaim stale debris")
  }

  test("segment chains survive a directory move (relative _SEGMENTS entries)") {
    val base = newBase()
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1, 2)))
    IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(3)))
    val moved = newBase() + "_moved"
    assert(new java.io.File(base).renameTo(new java.io.File(moved)), "rename failed")
    val union = IndexIO.segments(spark, moved)
      .map(s => spark.read.parquet(s"$s/a")).reduce(_ union _)
      .as[Int].collect().toSet
    assert(union == Set(1, 2, 3), "append chain broke after moving the index dir")
  }

  test("pruning never deletes the version _LATEST names, even on mtime ties") {
    val base = newBase()
    // several rapid publishes; the LAST one owns the pointer
    val versions = (0 until 4).map { i =>
      IndexIO.publish(spark, base) { vdir => writeTable(vdir, "a", Seq(i)) }
    }
    // force every surviving _SEGMENTS mtime EQUAL — the object-store
    // second-granularity scenario where sort order alone cannot rank
    // the live version into the retain window
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    val t = System.currentTimeMillis() - 60000
    fs.listStatus(basePath).foreach { st =>
      val seg = new org.apache.hadoop.fs.Path(st.getPath, "_SEGMENTS")
      if (st.isDirectory && fs.exists(seg)) fs.setTimes(seg, t, -1)
    }
    // aggressive retention under the tie: the pointed-at version must
    // survive no matter where its name sorts
    IndexIO.vacuum(spark, base, retainVersions = 1)
    val live = IndexIO.resolve(spark, base)
    assert(live == versions.last)
    assert(spark.read.parquet(s"$live/a").collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("describe: lifecycle counts under log-ordered deletes; a pin describes its version") {
    val base = newBase()
    IndexIO.publish(spark, base)(v => writeTable(v, "a", Seq(1, 2, 3)))
    val v1 = IndexIO.currentVersionId(spark, base)
    IndexIO.publishDelta(spark, base, "b0-x")(v => writeTable(v, "a", Seq(4)))
    IndexIO.publishDelta(spark, base) { v =>
      Seq(2).toDF("x").write.mode("overwrite").parquet(s"$v/tombstones")
    }
    val d = IndexIO.describe(spark, base, "a", "x").head()
    assert((d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3),
      d.getLong(4), d.getLong(5), d.getString(6)) == (3L, 3L, 1L, 4L, 3L, 1L, "a"))
    // the pinned first version: one segment, its 3 rows all live, no
    // tombstones — but the version WINDOW is a directory property
    val dp = IndexIO.describe(spark, IndexIO.pin(base, v1), "a", "x").head()
    assert((dp.getLong(0), dp.getLong(1), dp.getLong(2), dp.getLong(3),
      dp.getLong(4), dp.getLong(5)) == (3L, 1L, 0L, 3L, 3L, 0L))
  }

  test("pin: a pinned path reads its version's chain across later publishes") {
    val base = newBase()
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(2)))
    val v = IndexIO.currentVersionId(spark, base)
    val pinned = IndexIO.pin(base, v)
    // a full republish (compaction shape) flips _LATEST away
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(9)))
    assert(IndexIO.currentVersionId(spark, base) != v)
    // the pin still reads the OLD two-segment chain, _LATEST the new one
    val pinnedRows = IndexIO.chainTable(spark, pinned, "a").get
      .drop("__seg").collect().map(_.getInt(0)).toSet
    assert(pinnedRows == Set(1, 2))
    val latestRows = IndexIO.chainTable(spark, base, "a").get
      .drop("__seg").collect().map(_.getInt(0)).toSet
    assert(latestRows == Set(9))
    // versions() lists both, newest first among distinct mtimes
    val vs = IndexIO.versions(spark, base)
    assert(vs.contains(v) && vs.contains(IndexIO.currentVersionId(spark, base)))
    assert(IndexIO.exists(spark, pinned))
  }

  test("retain: a protected version and its chain survive pruning until released") {
    val base = newBase()
    val savedGrace = IndexIO.PruneGraceMs
    IndexIO.PruneGraceMs = 0L // count-based retention is what's under test
    try {
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    IndexIO.publishDelta(spark, base)(vdir => writeTable(vdir, "a", Seq(2)))
    val v = IndexIO.currentVersionId(spark, base)
    IndexIO.retain(spark, base, v)
    assert(IndexIO.retained(spark, base) == Set(v))
    val pinned = IndexIO.pin(base, v)
    // far beyond the retention window — the retained two-segment
    // chain must survive every publish AND an aggressive vacuum
    (1 to IndexIO.RetainVersions + 3).foreach { i =>
      IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(10 + i)))
    }
    IndexIO.vacuum(spark, base, retainVersions = 1)
    assert(IndexIO.chainTable(spark, pinned, "a").get
      .drop("__seg").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // release: once the version leaves the newest-RetainVersions
    // window again (the vacuum above shrank the directory, so it
    // takes RetainVersions publishes to push it out), it reclaims
    IndexIO.release(spark, base, v)
    assert(IndexIO.retained(spark, base).isEmpty)
    (1 to IndexIO.RetainVersions).foreach { i =>
      IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(90 + i)))
    }
    intercept[IllegalStateException] { IndexIO.resolve(spark, pinned) }
    // retaining a version that never existed fails loudly
    intercept[IllegalArgumentException] { IndexIO.retain(spark, base, "feedfeed") }
    } finally IndexIO.PruneGraceMs = savedGrace
  }

  test("pin: '@v=' inside a legitimate path is not a pin (plausible-suffix rule)") {
    // round-16 ADVICE: '@v=' is a legal substring of a POSIX path/URI.
    // Only a suffix pin() could have produced (non-empty, alphanumeric,
    // no '/') counts — anything else must read and publish as a plain
    // writable path instead of resolving a bogus version or being
    // rejected as read-only.
    val root = newBase()
    for (weird <- Seq(s"$root/data@v=2024/tbl", s"$root/data@v=a-b", s"$root/data@v=")) {
      assert(!IndexIO.exists(spark, weird))
      IndexIO.publish(spark, weird)(vdir => writeTable(vdir, "a", Seq(7)))
      assert(IndexIO.exists(spark, weird))
      assert(spark.read.parquet(s"${IndexIO.resolve(spark, weird)}/a")
        .collect().map(_.getInt(0)).toSeq == Seq(7))
      IndexIO.vacuum(spark, weird) // writable: not treated as pinned
      // pinning ON such a path still round-trips: the pin is the LAST
      // '@v=' with a plausible id, the earlier one stays in the base
      val v = IndexIO.currentVersionId(spark, weird)
      assert(IndexIO.resolve(spark, IndexIO.pin(weird, v)) ==
        IndexIO.resolve(spark, weird))
    }
  }

  test("pin: an in-flight (no _SEGMENTS) version fails loudly at resolve") {
    // a crashed/in-flight build id has a version DIR but no _SEGMENTS;
    // serving it would expose its torn tables silently. A pin asserting
    // "this was published" must fail instead.
    val base = newBase()
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    // simulate an in-flight sibling build: dir exists, not committed
    writeTable(s"$base/v-deadbeef01", "a", Seq(666))
    val pinned = IndexIO.pin(base, "deadbeef01")
    val err = intercept[IllegalStateException] { IndexIO.resolve(spark, pinned) }
    assert(err.getMessage.contains("incomplete"))
    // retain agrees: the same incomplete version is not retainable
    intercept[IllegalArgumentException] { IndexIO.retain(spark, base, "deadbeef01") }
    // the committed path is unaffected
    IndexIO.resolve(spark, base)
  }

  test("pin: read-only — publish/vacuum reject, pruned pins fail loudly at resolve") {
    val base = newBase()
    val savedGrace = IndexIO.PruneGraceMs
    IndexIO.PruneGraceMs = 0L // count-based retention is what's under test
    try {
    IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(1)))
    val v1 = IndexIO.currentVersionId(spark, base)
    val pinned = IndexIO.pin(base, v1)
    intercept[IllegalArgumentException] {
      IndexIO.publish(spark, pinned)(vdir => writeTable(vdir, "a", Seq(2)))
    }
    intercept[IllegalArgumentException] { IndexIO.publishDelta(spark, pinned)(_ => ()) }
    intercept[IllegalArgumentException] { IndexIO.vacuum(spark, pinned) }
    intercept[IllegalArgumentException] { IndexIO.pin(pinned, v1) }
    intercept[IllegalArgumentException] { IndexIO.pin(base, "..") }
    // push v1 out of the retention window: RetainVersions more publishes
    (1 to IndexIO.RetainVersions + 1).foreach { i =>
      IndexIO.publish(spark, base)(vdir => writeTable(vdir, "a", Seq(i)))
    }
    val err = intercept[IllegalStateException] { IndexIO.resolve(spark, pinned) }
    assert(err.getMessage.contains("pruned") || err.getMessage.contains("gone"))
    // a never-pinned stale id fails the same way; the live path still works
    assert(IndexIO.exists(spark, base))
    IndexIO.resolve(spark, base)
    } finally IndexIO.PruneGraceMs = savedGrace
  }

  // ---- concurrent-writer contract (header paragraph; round-17 verdict #5) ----

  test("two concurrent FULL publishers race _LATEST: last-wins, both versions complete") {
    val base = newBase()
    IndexIO.publish(spark, base) { vdir => writeTable(vdir, "a", Seq(0)) }
    // both builders enter their build callbacks before either flips —
    // the true pointer race, not an accidental serialization
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1, 2).map { i =>
      new Thread(() => {
        try {
          val v = IndexIO.publish(spark, base) { vdir =>
            writeTable(vdir, "a", Seq.fill(i)(i))
            gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
          }
          results.put(i, v)
        } catch { case t: Throwable => errs.add(t) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"publisher threw: ${errs.peek()}")
    assert(results.size == 2, "both publishers must complete (no throw)")
    // the pointer names ONE of the two, and resolving serves it intact
    val live = IndexIO.resolve(spark, base)
    assert(results.containsValue(live))
    assert(spark.read.parquet(s"$live/a").count() > 0)
    // the LOSER's version is complete too and stays readable via pin
    // (a full publish is self-contained; losing the flip loses nothing
    // a reader can't still reach through the retention window)
    val loser = Seq(1, 2).map(results.get).filterNot(_ == live).head
    val loserId = new java.io.File(loser).getName.stripPrefix("v-")
    val viaPin = IndexIO.resolve(spark, IndexIO.pin(base, loserId))
    assert(spark.read.parquet(s"$viaPin/a").count() > 0)
  }

  test("concurrent DELTA publishers serialize under the append lock: no lost segment") {
    val base = newBase()
    IndexIO.publish(spark, base) { vdir => writeTable(vdir, "seg", Seq(0)) }
    // two appenders race; without the _APPEND_LOCK both would read the
    // same parent chain and the loser's segment would vanish from
    // _LATEST (silent data loss). With it, the second blocks until the
    // first flips and extends the RESULTING chain.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(10, 20).map { i =>
      new Thread(() => {
        try IndexIO.publishDelta(spark, base) { seg =>
          writeTable(seg, "seg", Seq(i))
          Thread.sleep(200) // widen the window: hold the lock mid-build
        } catch { case t: Throwable => errs.add(t) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"appends must not fail: ${errs.peek()}")
    val rows = IndexIO.chainTable(spark, base, "seg").get
      .select("x").as[Int].collect().toSet
    assert(rows == Set(0, 10, 20),
      s"both appended segments must be in the live chain, got $rows")
    assert(IndexIO.segments(spark, base).length == 3)
    // the lock is released: a third append proceeds immediately
    IndexIO.publishDelta(spark, base) { seg => writeTable(seg, "seg", Seq(30)) }
    assert(IndexIO.segments(spark, base).length == 4)
  }

  test("append lock: a crashed holder's lock is taken over after the stale bound") {
    val base = newBase()
    IndexIO.publish(spark, base) { vdir => writeTable(vdir, "seg", Seq(0)) }
    // simulate a holder that died mid-publish: a lock file whose mtime
    // is past the stale bound
    val lock = new org.apache.hadoop.fs.Path(base, "_APPEND_LOCK")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false); out.write("dead".getBytes); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - IndexIO.AppendLockStaleMs - 1000, -1)
    // the appender must adopt the stale lock and publish normally
    IndexIO.publishDelta(spark, base) { seg => writeTable(seg, "seg", Seq(1)) }
    assert(IndexIO.segments(spark, base).length == 2)
    assert(!fs.exists(lock), "the adopted lock must be released")
    // a LIVE (fresh) lock blocks until timeout and then fails LOUDLY —
    // an append is never silently dropped
    val out2 = fs.create(lock, false); out2.write("live".getBytes); out2.close()
    val t0 = System.currentTimeMillis()
    val e = intercept[IllegalStateException] {
      IndexIO.publishDeltaWithTimeout(spark, base, timeoutMs = 500) { seg =>
        writeTable(seg, "seg", Seq(2))
      }
    }
    assert(e.getMessage.contains("_APPEND_LOCK"))
    assert(System.currentTimeMillis() - t0 >= 500)
    fs.delete(lock, false)
  }

  test("vacuum reclaims stale lock files on idle indexes, spares fresh ones") {
    val base = newBase()
    IndexIO.publish(spark, base) { vdir => writeTable(vdir, "a", Seq(1)) }
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkLock(name: String, old: Boolean): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(base, name)
      val out = fs.create(p, false); out.write("x".getBytes); out.close()
      if (old) fs.setTimes(p,
        System.currentTimeMillis() - IndexIO.AppendLockStaleMs - 1000, -1)
      p
    }
    val dead = mkLock("_APPEND_LOCK", old = true)
    IndexIO.vacuum(spark, base)
    assert(!fs.exists(dead), "stale lock must be vacuumed")
    val live = mkLock("_APPEND_LOCK", old = false)
    IndexIO.vacuum(spark, base)
    assert(fs.exists(live), "a fresh (held) lock must survive vacuum")
    fs.delete(live, false)
  }

  test("a publisher racing vacuum: the in-flight build survives and commits") {
    val base = newBase()
    IndexIO.publish(spark, base) { vdir => writeTable(vdir, "a", Seq(1)) }
    val mid = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val published = new java.util.concurrent.atomic.AtomicReference[String]()
    val t = new Thread(() => {
      published.set(IndexIO.publish(spark, base) { vdir =>
        writeTable(vdir, "a", Seq(2, 3))
        mid.countDown()
        resume.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      })
      ()
    })
    t.start()
    assert(mid.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // vacuum runs while the build is in flight: the new v- dir has no
    // _SEGMENTS yet and is young, so the stale rule must skip it
    IndexIO.vacuum(spark, base, retainVersions = 1)
    resume.countDown()
    t.join(60000)
    assert(published.get != null)
    assert(IndexIO.resolve(spark, base) == published.get)
    assert(spark.read.parquet(s"${published.get}/a").count() == 2)
  }
}
