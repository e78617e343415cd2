package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Ivf
import graft.sources.VectorFormats

/** Cross-PROCESS lifecycle stress (VERDICT r15 next-round #2): every
  * prior lease/lifecycle gate — including StressSpec's composed
  * interleaving — ran its contenders as threads of ONE JVM, where the
  * striped create-monitor and the shared `tombstoneSets` memo soften
  * the race. FsLease's real adversary is a second JVM with its own
  * heartbeat daemons and its own memo copies that a foreign delete
  * cannot invalidate. This spec forks that JVM (java -cp <this test
  * classpath> graft.CrossJvmStressRunner) and races the same op mix
  * across the process boundary. Tombstone freshness is by fingerprint
  * alone — every read re-lists the sidecar, with no TTL — so the gate
  * allows no staleness window: the very next parent read after the
  * child's delete must hide the deleted id.
  */
class CrossJvmStressSpec extends SparkSpec {

  private def forkRunner(args: Seq[String], logPath: String): Process = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    // same JDK17 module opens the build gives every forked Spark JVM
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.CrossJvmStressRunner") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(logPath))
    pb.start()
  }

  test("cross-process interleaving: a second JVM racing append + " +
      "deleteWhere + maintain + clearTombstones preserves the exact " +
      "id set, and a foreign delete is visible to the very next read") {
    val dir = Files.createTempDirectory("graft_xjvm_idx").toString
    val probeDir = Files.createTempDirectory("graft_xjvm_probe").toString
    val commDir = Files.createTempDirectory("graft_xjvm_comm").toString
    val logPath = s"$commDir/child.log"
    val resultPath = s"$commDir/child.result"
    val all = VectorFormats.generate(spark, 1200L, 8, 15L).cache()
    val idx = Ivf.build(all.where(col("vec_id") < 600),
      "vec_id", "embedding", dir)

    val child = forkRunner(Seq(dir, probeDir, commDir, resultPath), logPath)
    def childLog(): String =
      try new String(Files.readAllBytes(
        java.nio.file.Paths.get(logPath)), "UTF-8").takeRight(4000)
      catch { case _: Throwable => "<no child log>" }
    try {
      // parent's half of the stress mix — id blocks and delete residues
      // DISJOINT from the child's (child: appends 900..1199, deletes
      // residues 6..11), so the expected final set is exact regardless
      // of interleaving
      val unexpected =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      import CrossJvmStress._
      val threads = Seq(
        worker("append", 1L, iters = 6, pauseMax = 80, unexpected) { i =>
          Ivf.append(idx,
            all.where(col("vec_id") >= 600 + 50 * i &&
              col("vec_id") < 650 + 50 * i),
            "vec_id", "embedding")
        },
        worker("deleteWhere", 2L, iters = 6, pauseMax = 80, unexpected) { i =>
          Ivf.deleteWhere(spark, idx,
            col("vec_id") < 600 && col("vec_id") % 31 === i)
        },
        worker("maintain", 3L, iters = 3, pauseMax = 300, unexpected) { _ =>
          Ivf.maintain(spark, idx, maxFilesPerShard = 2)
        },
        worker("clear", 4L, iters = 4, pauseMax = 200, unexpected) { _ =>
          Ivf.clearTombstones(spark, idx)
        })
      threads.foreach(_.join(240000L))
      assert(threads.forall(!_.isAlive), "a parent interleaving worker hung")
      assert(unexpected.isEmpty,
        s"unexpected parent failures: $unexpected\nchild log: ${childLog()}")
      assert(await(commDir, "child_stress_done", 300000L).isDefined,
        s"child stress phase never finished; child log: ${childLog()}")

      // exact-set invariant on the FIRST read once both halves are
      // done: the relation and the tombstone set are both re-listed per
      // call, so the child's last appends and deletes must already
      // show — no poll, nothing for staleness to hide behind
      val deleted = (0L until 600L).filter(id => (id % 31) < 12).toSet
      val expected = (0L until 1200L).toSet -- deleted
      val liveSeq = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val live = liveSeq.toSet
      assert(liveSeq.length == liveSeq.distinct.length,
        s"duplicate live rows: ${liveSeq.length} vs " +
          s"${liveSeq.distinct.length}\nchild log: ${childLog()}")
      assert(live == expected,
        s"lost=${(expected -- live).take(10)} " +
          s"resurrected=${(live -- expected).take(10)}\n" +
          s"child log: ${childLog()}")
      // self-retrieval of a CHILD-appended vector from the parent JVM
      val qv = all.where(col("vec_id") === 951L)
        .select("embedding").head().getSeq[Float](0).toArray
      val top = Ivf.search(spark, idx, qv, 5, 10000).head()
      assert(top.getLong(0) == 951L && top.getDouble(1) == 0.0,
        "child-appended vector not retrievable from the parent JVM")

      // directed foreign-delete probe: fresh tombstone-free index,
      // warm THIS JVM's read path on it, then let the CHILD delete.
      val probeIdx = Ivf.build(all.where(col("vec_id") < 100),
        "vec_id", "embedding", probeDir)
      val q13 = all.where(col("vec_id") === 13L)
        .select("embedding").head().getSeq[Float](0).toArray
      assert(Ivf.liveVectors(spark, probeIdx).select("vec_id").count() == 100L)
      assert(Ivf.search(spark, probeIdx, q13, 5, 10000).head().getLong(0) == 13L)
      signal(commDir, "parent_probe_ready")
      val deletedAt = await(commDir, "child_deleted", 180000L)
        .map(_.trim.toLong)
        .getOrElse(fail(s"child never deleted; log: ${childLog()}"))
      assert(deletedAt > 0, s"child probe delete failed; ${childLog()}")
      // no poll: the next read of each kind must already hide id 13
      val liveAfter = Ivf.liveVectors(spark, probeIdx)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(liveAfter == (0L until 100L).toSet - 13L,
        s"foreign delete not visible to the next liveVectors: " +
          s"${(0L until 100L).toSet -- liveAfter}; ${childLog()}")
      val searched = Ivf.search(spark, probeIdx, q13, 5, 10000)
        .collect().map(_.getLong(0))
      assert(searched.length == 5 && !searched.contains(13L),
        s"foreign delete not visible to the next search: " +
          s"${searched.toSeq}; ${childLog()}")

      assert(child.waitFor(120L, java.util.concurrent.TimeUnit.SECONDS),
        s"child JVM did not exit; log: ${childLog()}")
      val result =
        try new String(Files.readAllBytes(
          java.nio.file.Paths.get(resultPath)), "UTF-8")
        catch { case _: Throwable => "<no result file>" }
      assert(child.exitValue() == 0 && result.startsWith("OK"),
        s"child exit=${child.exitValue()} result=$result\n" +
          s"child log: ${childLog()}")
    } finally {
      if (child.isAlive) child.destroyForcibly()
    }
  }

  test("kill -9 mid-append: a writer JVM destroyed mid-write leaves no " +
      "visible partial rows, its stale lease is broken, and the next " +
      "append cannot resurrect the dead batch's committed task files") {
    val dir = Files.createTempDirectory("graft_xjvm_crash").toString
    val commDir = Files.createTempDirectory("graft_xjvm_crash_comm").toString
    val all = VectorFormats.generate(spark, 600L, 8, 15L).cache()
    val idx = Ivf.build(all.where(col("vec_id") < 500),
      "vec_id", "embedding", dir)
    val logPath = s"$commDir/crash_child.log"
    val child = forkRunner(Seq("crash-append", dir, commDir), logPath)
    import CrossJvmStress._
    try {
      assert(await(commDir, "child_appending", 120000L).isDefined,
        "crash child never reached its append")
      // kill in the DANGEROUS window: after at least one task has
      // task-committed (a task_* dir exists under _temporary/0 — v1
      // renames the attempt dir there, and a later job commit in the
      // same output dir would merge it) but before the job commit.
      // Killing earlier only exercises the trivial attempt-dir case.
      val tmpDir = new java.io.File(s"$dir/vectors/_temporary")
      def committedTaskDirs(): Array[java.io.File] =
        Option(new java.io.File(tmpDir, "0").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("task_"))
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while (committedTaskDirs().isEmpty &&
          !Files.exists(java.nio.file.Paths.get(
            commDir, "child_append_finished")) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      val nCommitted = committedTaskDirs().length
      child.destroyForcibly()
      assert(nCommitted > 0,
        "no task-committed dir ever appeared under _temporary/0 — " +
          "the kill never reached the dangerous window")
      assert(child.waitFor(30L, java.util.concurrent.TimeUnit.SECONDS))
      assert(!Files.exists(java.nio.file.Paths.get(
          commDir, "child_append_finished")),
        "append committed before the kill — batch too small to test " +
          "mid-write crash")

      // 1. nothing of the dead batch is visible (committer v1 keeps
      //    uncommitted AND task-committed files under _temporary)
      val liveAfterKill = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0))
      assert(liveAfterKill.length == 500 &&
        !liveAfterKill.exists(_ >= 1000000L),
        s"partial rows visible after kill: " +
          s"${liveAfterKill.filter(_ >= 1000000L).take(5).toSeq}")

      // 2. the dead JVM's heartbeat-less writer lease is broken after
      //    the stale TTL and the next append succeeds...
      Ivf.append(idx.copy(config = idx.config.copy(
          leaseStaleTtlMs = 2000L, leaseTimeoutMs = 120000L)),
        all.where(col("vec_id") >= 500), "vec_id", "embedding")

      // 3. ...and that commit must NOT merge the dead job's leftover
      //    task-committed dirs into the dataset (FileOutputCommitter v1
      //    merges EVERY task_* under _temporary/0 at job commit — a
      //    crashed writer's debris must be purged first, or a subset of
      //    its batch reappears here)
      val liveFinal = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0))
      val resurrected = liveFinal.filter(_ >= 1000000L)
      assert(resurrected.isEmpty,
        s"next append resurrected ${resurrected.length} rows of the " +
          s"killed batch (e.g. ${resurrected.take(5).toSeq})")
      assert(liveFinal.toSet == (0L until 600L).toSet,
        s"expected exactly 0..599 live, got ${liveFinal.length} rows")
      // self-retrieval through the recovered index
      val qv = all.where(col("vec_id") === 550L)
        .select("embedding").head().getSeq[Float](0).toArray
      val top = Ivf.search(spark, idx, qv, 3, 10000).head()
      assert(top.getLong(0) == 550L && top.getDouble(1) == 0.0)
    } finally {
      if (child.isAlive) child.destroyForcibly()
    }
  }

  /** Shared body of the two maintain-crash gates (VERDICT r16 #2): fork
    * a maintainer JVM, kill it at `phase`, then from THIS process
    * assert the recovery invariant — the index is either fully old or
    * fully new, never absent — and that a subsequent maintain
    * completes. `killAt` blocks until the right kill instant.
    */
  private def maintainKillGate(phase: String)(
      killAt: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft_xjvm_mcrash_$phase").toString
    val commDir =
      Files.createTempDirectory(s"graft_xjvm_mcrash_comm_$phase").toString
    val all = VectorFormats.generate(spark, 600L, 8, 15L).cache()
    val idx = Ivf.build(all.where(col("vec_id") < 500),
      "vec_id", "embedding", dir)
    // extra files per shard so compactRecommended(maxFilesPerShard=1)
    // is guaranteed true in both the child and the recovery maintain
    Ivf.append(idx, all.where(col("vec_id") >= 500), "vec_id", "embedding")
    val logPath = s"$commDir/maintain_child.log"
    def childLog(): String =
      try new String(Files.readAllBytes(
        java.nio.file.Paths.get(logPath)), "UTF-8").takeRight(1500)
      catch { case _: Throwable => "<no child log>" }
    val child = forkRunner(
      Seq("crash-maintain", dir, commDir, phase), logPath)
    try {
      killAt(dir, commDir)
      child.destroyForcibly()
      assert(child.waitFor(30L, java.util.concurrent.TimeUnit.SECONDS))
      assert(!Files.exists(java.nio.file.Paths.get(
          commDir, "child_maintain_finished")),
        s"maintain completed before the kill — the $phase window was " +
          s"never exercised; ${childLog()}")
      // ADVICE r17: the marker above is written only AFTER maintain
      // returns, so a kill landing in the gap (maintain done, signal
      // line not yet run) would pass the absence check while the gate
      // then asserts against a fully completed maintain — false
      // coverage. The filesystem is race-free evidence: an incomplete
      // maintain always leaves __compact_scratch or __compact_trash
      // behind (or the live dir renamed away); completion deletes both
      // and restores vectors/. Checked after child death, so nothing
      // can clean up underneath the assertion.
      assert(Files.exists(java.nio.file.Paths.get(
          s"$dir/__compact_scratch")) ||
          Files.exists(java.nio.file.Paths.get(s"$dir/__compact_trash")) ||
          !Files.exists(java.nio.file.Paths.get(s"$dir/vectors")),
        s"maintain had already completed at kill time (scratch and " +
          s"trash gone, vectors present) — the $phase window was never " +
          s"exercised; ${childLog()}")
      // recovery invariant: after (foreign) crash recovery the index is
      // either fully old or fully new — NEVER absent. The dead child's
      // maintainer lease is heartbeat-less; the 2 s stale TTL is the
      // crash-detection horizon the recovery waits out.
      val fast = idx.copy(config = idx.config.copy(
        leaseStaleTtlMs = 2000L, leaseTimeoutMs = 120000L))
      Ivf.recoverFromCrashedCompact(spark, fast)
      assert(Files.exists(java.nio.file.Paths.get(s"$dir/vectors")),
        s"vectors dir absent after recovery; ${childLog()}")
      val ids = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids == (0L until 600L).toSet,
        s"id set corrupted after $phase kill + recovery: " +
          s"${ids.size} ids; ${childLog()}")
      // a subsequent maintain must complete, breaking the dead JVM's
      // stale maintainer + writer leases by TTL. Until the 2 s TTL
      // elapses the dead lease still reads fresh (maintain fails fast
      // by design) — retry across that horizon, bounded.
      def maintainRetrying(): Ivf.MaintainOutcome = {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (true) {
          try return Ivf.maintain(spark, fast, maxFilesPerShard = 1)
          catch {
            case _: graft.operators.FsLease.LeaseHeldException
                if System.nanoTime() < deadline => Thread.sleep(500)
          }
        }
        throw new IllegalStateException("unreachable")
      }
      val outcome = maintainRetrying()
      assert(outcome.isInstanceOf[Ivf.MaintainCompacted],
        s"post-recovery maintain did not compact: $outcome")
      val idsAfter = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(idsAfter == (0L until 600L).toSet)
      // self-retrieval through the recovered + re-compacted index
      val qv = all.where(col("vec_id") === 550L)
        .select("embedding").head().getSeq[Float](0).toArray
      val top = Ivf.search(spark, idx, qv, 3, 10000).head()
      assert(top.getLong(0) == 550L && top.getDouble(1) == 0.0)
    } finally {
      if (child.isAlive) child.destroyForcibly()
    }
  }

  test("cross-process streaming ingest: a child JVM's Structured " +
      "Streaming appendVectorBatchMaintained sink races parent " +
      "deleteWhere + maintain; the final id set is exact and streamed " +
      "rows land exactly once despite restarts") {
    val dir = Files.createTempDirectory("graft_xjvm_stream_idx").toString
    val feedDir = Files.createTempDirectory("graft_xjvm_feed").toString
    val commDir = Files.createTempDirectory("graft_xjvm_stream_comm").toString
    val logPath = s"$commDir/stream_child.log"
    val resultPath = s"$commDir/stream_child.result"
    def childLog(): String =
      try new String(Files.readAllBytes(
        java.nio.file.Paths.get(logPath)), "UTF-8").takeRight(3000)
      catch { case _: Throwable => "<no child log>" }
    val all = VectorFormats.generate(spark, 1200L, 8, 15L).cache()
    val idx = Ivf.build(all.where(col("vec_id") < 500),
      "vec_id", "embedding", dir)
    // six feed files → six micro-batches (maxFilesPerTrigger=1), ids
    // 1000..1199 disjoint from the built block and the delete residues
    (0 until 6).foreach { i =>
      all.where(col("vec_id") >= 1000 + 34 * i &&
          col("vec_id") < math.min(1200, 1034 + 34 * i))
        .repartition(1).write.mode("append").parquet(feedDir)
    }
    val child = forkRunner(
      Seq("stream-ingest", dir, feedDir, commDir, resultPath), logPath)
    import CrossJvmStress._
    try {
      assert(await(commDir, "child_streaming", 120000L).isDefined,
        s"child never started streaming; ${childLog()}")
      // parent's concurrent op mix — delete residues strictly inside
      // the BUILT block, so the expected final set is exact regardless
      // of interleaving with the child's appends
      val unexpected =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = Seq(
        worker("deleteWhere", 21L, iters = 6, pauseMax = 120, unexpected) {
          i => Ivf.deleteWhere(spark, idx,
            col("vec_id") < 500 && col("vec_id") % 31 === i)
        },
        worker("maintain", 22L, iters = 3, pauseMax = 300, unexpected) { _ =>
          Ivf.maintain(spark, idx, maxFilesPerShard = 2)
        })
      threads.foreach(_.join(240000L))
      assert(threads.forall(!_.isAlive), "a parent worker hung")
      assert(unexpected.isEmpty,
        s"unexpected parent failures: $unexpected\n${childLog()}")
      assert(await(commDir, "child_stream_done", 300000L).isDefined,
        s"child stream never finished; ${childLog()}")
      val result =
        try new String(Files.readAllBytes(
          java.nio.file.Paths.get(resultPath)), "UTF-8")
        catch { case _: Throwable => "<no result file>" }
      assert(result.startsWith("OK"),
        s"child stream result: $result\n${childLog()}")

      // exact final set on the FIRST read, as in the interleaving
      // gate: both halves are done and every read re-lists the layout
      // and the tombstone sidecar, so there is no staleness to wait out
      val deleted = (0L until 500L).filter(id => (id % 31) < 6).toSet
      val expected =
        ((0L until 500L).toSet -- deleted) ++ (1000L until 1200L).toSet
      val liveSeq = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val live = liveSeq.toSet
      // exactly-once effect: no duplicate rows even if the stream
      // restarted and replayed a batch (marker-dir idempotence)
      assert(liveSeq.length == liveSeq.distinct.length,
        s"duplicate live rows after streaming ingest " +
          s"(${liveSeq.length} vs ${liveSeq.distinct.length}); " +
          s"result=$result\n${childLog()}")
      assert(live == expected,
        s"lost=${(expected -- live).take(10)} " +
          s"resurrected=${(live -- expected).take(10)} result=$result\n" +
          s"${childLog()}")
      // self-retrieval of a STREAMED row from the parent JVM
      val qv = all.where(col("vec_id") === 1050L)
        .select("embedding").head().getSeq[Float](0).toArray
      val top = Ivf.search(spark, idx, qv, 3, 10000).head()
      assert(top.getLong(0) == 1050L && top.getDouble(1) == 0.0,
        "streamed vector not retrievable from the parent JVM")
      assert(child.waitFor(60L, java.util.concurrent.TimeUnit.SECONDS),
        s"child JVM did not exit; ${childLog()}")
    } finally {
      if (child.isAlive) child.destroyForcibly()
    }
  }

  test("kill -9 mid-stream-ingest: a streaming driver destroyed with an " +
      "append in flight resumes in a NEW JVM from the same checkpoint; " +
      "markers + committer purge give the exact set with zero duplicates") {
    val dir = Files.createTempDirectory("graft_xjvm_skill_idx").toString
    val feedDir = Files.createTempDirectory("graft_xjvm_skill_feed").toString
    val commDir = Files.createTempDirectory("graft_xjvm_skill_comm").toString
    val logPath1 = s"$commDir/skill_child1.log"
    val logPath2 = s"$commDir/skill_child2.log"
    val resultPath = s"$commDir/skill_child.result"
    // NOTE: deliberately assigned to locals before concatenation — a
    // try-expression used directly as a string-concat operand makes
    // scalac 2.13.17 emit a classfile with inconsistent stackmap frames
    // here (VerifyError at class load, observed r18: the whole suite
    // failed before running a single test)
    def childLog(): String = {
      val a =
        try new String(Files.readAllBytes(
          java.nio.file.Paths.get(logPath1)), "UTF-8").takeRight(1500)
        catch { case _: Throwable => "<no child1 log>" }
      val b =
        try new String(Files.readAllBytes(
          java.nio.file.Paths.get(logPath2)), "UTF-8").takeRight(1500)
        catch { case _: Throwable => "<no child2 log>" }
      a + "\n---\n" + b
    }
    val all = VectorFormats.generate(spark, 1200L, 8, 15L).cache()
    val idx = Ivf.build(all.where(col("vec_id") < 500),
      "vec_id", "embedding", dir)
    // twelve small feed files → twelve micro-batches, so an append is
    // in flight often enough for the _temporary poll to catch one
    (0 until 12).foreach { i =>
      all.where(col("vec_id") >= 1000 + 17 * i &&
          col("vec_id") < math.min(1200, 1017 + 17 * i))
        .repartition(1).write.mode("append").parquet(feedDir)
    }
    val runnerArgs =
      Seq("stream-ingest", dir, feedDir, commDir, resultPath, "2000")
    val child1 = forkRunner(runnerArgs, logPath1)
    import CrossJvmStress._
    var child2: Process = null
    try {
      assert(await(commDir, "child_streaming", 120000L).isDefined,
        s"child1 never started streaming; ${childLog()}")
      // kill in the dangerous window: an append job mid-write (its
      // committer scratch present under the vectors dir) — guaranteed
      // BEFORE that batch's commit, so its marker was not written and
      // the resumed JVM MUST re-run it without duplicating (the
      // documented commit→marker gap is a different, accepted window;
      // this kill deterministically avoids it)
      val tmpDir = java.nio.file.Paths.get(s"$dir/vectors/_temporary")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!Files.exists(tmpDir) &&
          !Files.exists(java.nio.file.Paths.get(
            commDir, "child_stream_done")) &&
          System.nanoTime() < deadline)
        Thread.sleep(2)
      assert(Files.exists(tmpDir),
        s"no append was ever in flight (stream finished first?); " +
          s"${childLog()}")
      child1.destroyForcibly()
      assert(child1.waitFor(30L, java.util.concurrent.TimeUnit.SECONDS))
      assert(!Files.exists(java.nio.file.Paths.get(
          commDir, "child_stream_done")),
        "stream completed before the kill — window not exercised")

      // resume in a NEW JVM from the same checkpoint + marker dir; the
      // dead driver's writer lease breaks after the 2 s TTL and the
      // committer purge removes its task-committed debris
      Files.deleteIfExists(java.nio.file.Paths.get(
        commDir, "child_streaming"))
      child2 = forkRunner(runnerArgs, logPath2)
      assert(await(commDir, "child_stream_done", 300000L).isDefined,
        s"resumed stream never finished; ${childLog()}")
      val result =
        try new String(Files.readAllBytes(
          java.nio.file.Paths.get(resultPath)), "UTF-8")
        catch { case _: Throwable => "<no result file>" }
      assert(result.startsWith("OK"),
        s"resumed stream result: $result\n${childLog()}")

      val expected = (0L until 500L).toSet ++ (1000L until 1200L).toSet
      val liveSeq = Ivf.liveVectors(spark, idx)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(liveSeq.length == liveSeq.distinct.length,
        s"kill-resume duplicated rows (${liveSeq.length} vs " +
          s"${liveSeq.distinct.length}); ${childLog()}")
      val live = liveSeq.toSet
      assert(live == expected,
        s"lost=${(expected -- live).take(10)} " +
          s"resurrected/dup=${(live -- expected).take(10)}\n${childLog()}")
      val qv = all.where(col("vec_id") === 1100L)
        .select("embedding").head().getSeq[Float](0).toArray
      val top = Ivf.search(spark, idx, qv, 3, 10000).head()
      assert(top.getLong(0) == 1100L && top.getDouble(1) == 0.0,
        "streamed vector not retrievable after kill-resume")
      assert(child2.waitFor(60L, java.util.concurrent.TimeUnit.SECONDS),
        s"child2 did not exit; ${childLog()}")
    } finally {
      if (child1.isAlive) child1.destroyForcibly()
      if (child2 != null && child2.isAlive) child2.destroyForcibly()
    }
  }

  test("kill -9 mid-swap (maintain): a maintainer JVM destroyed between " +
      "the two swap renames leaves the data intact at __compact_trash; " +
      "foreign-JVM recovery restores it and a subsequent maintain " +
      "completes") {
    maintainKillGate("swap") { (dir, commDir) =>
      import CrossJvmStress._
      // the betweenRenames seam signals from INSIDE the swap window —
      // live vectors dir already renamed away, compacted dir not yet
      // renamed in — then sleeps until the kill
      assert(await(commDir, "child_in_swap", 180000L).isDefined,
        "child never reached the swap window")
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir/vectors")) &&
        Files.exists(java.nio.file.Paths.get(s"$dir/__compact_trash")),
        "swap-window state not as expected: live dir present or trash " +
          "missing")
    }
  }

  test("kill -9 mid-rewrite (maintain): a maintainer JVM destroyed " +
      "while the O(index) rewrite is in flight leaves the live layout " +
      "untouched and a subsequent maintain completes") {
    maintainKillGate("rewrite") { (dir, commDir) =>
      import CrossJvmStress._
      assert(await(commDir, "child_maintaining", 120000L).isDefined,
        "child never started its maintain")
      // kill once the scratch rewrite dir exists — the rewrite (or the
      // merge/swap right after) is in flight
      val scratch = java.nio.file.Paths.get(s"$dir/__compact_scratch")
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while (!Files.exists(scratch) &&
          !Files.exists(java.nio.file.Paths.get(
            commDir, "child_maintain_finished")) &&
          System.nanoTime() < deadline)
        Thread.sleep(5)
      // the scratch dir MUST have appeared — a deadline expiry or a
      // too-fast maintain both mean the rewrite window was never
      // exercised (the maintain-finished case is re-checked after the
      // kill by the shared gate body, which needs the marker absent)
      assert(Files.exists(scratch),
        "rewrite scratch dir never appeared before the kill")
    }
  }
}
