package graft.index

import graft.SparkSpec

import java.nio.file.Files

/** The writer contract across a REAL process boundary: the two-writer
  * ManifestSpec case serializes on the reentrant in-JVM lock, so only a
  * forked second JVM exercises the OS advisory `writer.lock` and the
  * cross-process CAS. The child (graft.index.CrossProcChild) is
  * Spark-free — IndexMeta is pure java.nio — so the fork is cheap.
  *
  * r19 de-flake: the original form held the lock for a fixed 3 s and
  * asserted the parent's mutation entered ≥1 s before the child's
  * publish — a wall-clock window a loaded host (this box swings 1→10
  * co-tenant load) can miss, which is exactly how the r18 driver run
  * went red. Now the child holds the lock UNTIL the parent signals it
  * (a file handshake), and the parent asserts on observed lock-state
  * events instead of durations: it watches its own mutation thread
  * reach the blocking `FileChannel.lock()` frame while the child
  * provably still holds (no publish line yet), only then releases the
  * child. Every wait is a generous deadline, never a minimum. */
class CrossProcessWriterSpec extends SparkSpec {

  test("a second PROCESS blocks on writer.lock, moves the generation, and " +
      "the stale parent fails fast then retries cleanly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_xproc_spec").toString
    val path = s"$tmp/idx"
    val rnd = new scala.util.Random(5)
    val vecs = Seq.tabulate(60)(i => (i.toLong, Array.fill(4)(rnd.nextFloat())))
    val idx = AnnIndexManager.create(spark, "xproc_spec",
      vecs.toDF("id", "embedding"), "id", "embedding", "DISKANN",
      Map("metric" -> "l2", "max_degree" -> "8", "build_complexity" -> "16",
        "shards" -> "1"), path)
    val gen0 = IndexMeta.publishGen(idx.meta)

    val sigFile = java.nio.file.Paths.get(s"$tmp/release_child")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(javaBin, "-cp", cp,
      "graft.index.CrossProcChild", path, s"@$sigFile")
    pb.redirectErrorStream(true)
    val child = pb.start()
    try {
      // a reader thread tracks the child's lifecycle lines: `acquired`
      // proves the child holds the OS lock, `published` marks its CAS
      // publish + release — the two events every assertion below orders
      // against (no wall-clock windows anywhere)
      @volatile var acquired = false
      @volatile var published = false
      val reader = new Thread(() => {
        val childOut = new java.io.BufferedReader(
          new java.io.InputStreamReader(child.getInputStream))
        var line = childOut.readLine()
        while (line != null) {
          if (line.contains("lock-acquired")) acquired = true
          if (line.contains("published")) published = true
          line = childOut.readLine()
        }
      })
      reader.setDaemon(true)
      reader.start()
      def awaitOrFail(cond: => Boolean, what: String, seconds: Int = 90): Unit = {
        val deadline = System.nanoTime() + seconds * 1e9.toLong
        while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
        assert(cond, s"timed out waiting for $what")
      }
      awaitOrFail(acquired, "child to acquire the lock")

      // the parent's mutation runs in its own thread so THIS thread can
      // observe it blocking on the OS lock while the child still holds
      @volatile var outcome: Option[Throwable] = None
      val mutator = new Thread(() => {
        outcome =
          try { idx.delete(Seq(1L)); None }
          catch { case t: Throwable => Some(t) }
      })
      mutator.start()
      def inOsLockAcquire(t: Thread): Boolean = t.getStackTrace.exists { f =>
        val c = f.getClassName
        (c.contains("FileChannelImpl") || c.contains("FileDispatcherImpl")) &&
          f.getMethodName.toLowerCase.contains("lock")
      }
      // observed cross-process exclusion, as an EVENT: the mutator thread
      // is inside the blocking FileChannel.lock() call while the child
      // (which holds the lock and waits for our signal) has not published
      // — if the advisory lock failed to exclude, the mutation would have
      // completed instead (outcome set), which the wait flags
      awaitOrFail(inOsLockAcquire(mutator) || outcome.isDefined,
        "the parent mutation to reach the OS lock acquisition")
      assert(outcome.isEmpty,
        "parent mutation completed while the child held writer.lock — " +
          "the advisory lock is not excluding across processes")
      assert(!published, "child published before being signaled")

      // release the child: it publishes (moving the generation) and exits;
      // the parent's blocked mutation then acquires, reads the moved
      // generation, and must fail its CAS without writing
      Files.createFile(sigFile)
      awaitOrFail(!child.isAlive, "child to publish and exit")
      mutator.join(90000)
      assert(!mutator.isAlive, "parent mutation still blocked after child exit")
      reader.join(10000)
      assert(published, "child never published")
      assert(outcome.exists(_.isInstanceOf[IndexMeta.ConcurrentWriteException]),
        s"parent mutation outcome was $outcome — expected ConcurrentWriteException")
      assert(IndexMeta.publishGen(IndexMeta.read(path)) == gen0 + 1)
      assert(idx.meta.numDeleted == 0, "failed mutation must publish nothing")

      // conflict resynced the instance: retry succeeds, child's params
      // are visible, generation advances once more
      idx.delete(Seq(1L))
      assert(IndexMeta.publishGen(idx.meta) == gen0 + 2)
      assert(idx.meta.numDeleted == 1)
      assert(idx.meta.params.get("xproc_child").contains("1"))
    } finally child.destroyForcibly()
  }
}
