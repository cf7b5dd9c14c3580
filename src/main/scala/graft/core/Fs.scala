package graft.core

/** Scratch-tree helpers: the one recursive delete, and the one rule
  * for RAM-backed scratch dirs (streaming harness trees, saved ANN
  * indexes, Bench's shuffle dirs). */
object Fs {
  def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmTree)
    f.delete(): Unit
  }

  /** A fresh scratch dir `<prefix>-<pid>-<n>` under /dev/shm, or under
    * java.io.tmpdir on hosts without it. RAM-backed scratch keeps
    * disk writeback out of measurements, but a SIGKILLed JVM (OOM
    * killer, timeout) runs no finally block or shutdown hook, and its
    * leaked files then shrink the memory of every later run. So every
    * call first reaps the `<prefix>-<pid>-*` siblings whose pid is no
    * longer running; a live process's dir is never reaped, however
    * long it has run. */
  def ramScratch(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val kids = base.toFile.listFiles()
    if (kids != null) kids.foreach { f =>
      val n = f.getName
      if (n.startsWith(s"$prefix-")) {
        val pid = n.stripPrefix(s"$prefix-").takeWhile(_ != '-')
        val alive = pid.nonEmpty && pid.length < 19 && pid.forall(_.isDigit) &&
          ProcessHandle.of(pid.toLong).isPresent
        if (!alive) rmTree(f)
      }
    }
    java.nio.file.Files.createTempDirectory(base, s"$prefix-${ProcessHandle.current().pid()}-")
  }
}
