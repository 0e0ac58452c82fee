package graft.index

/** The forked second writer CrossProcessWriterSpec starts: Spark-free
  * (IndexMeta is pure java.nio) — holds the OS advisory writer lock
  * UNTIL the parent creates the `@<file>` signal file, then publishes a
  * params-only mutation, moving the generation under the parent. The
  * handshake lets the spec assert on lock-state EVENTS instead of
  * wall-clock windows (a loaded host made a fixed hold flaky). */
object CrossProcChild {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val sig = java.nio.file.Paths.get(args(1).stripPrefix("@"))
    val meta = IndexMeta.read(path)
    val gen = IndexMeta.publishGen(meta)
    IndexMeta.withWriter(path)(gen) {
      println("[child] lock-acquired")
      System.out.flush()
      val deadline = System.nanoTime() + 120e9.toLong
      while (!java.nio.file.Files.exists(sig) && System.nanoTime() < deadline)
        Thread.sleep(10)
      IndexMeta.publish(path,
        meta.copy(params = meta.params + ("xproc_child" -> "1")), gen)
    }
    println("[child] published")
  }
}
