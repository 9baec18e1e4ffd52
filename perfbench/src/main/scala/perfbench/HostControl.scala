package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Spark-free host controls, run before and after a workload's measured runs
  * and printed beside its numbers: this kind of shared VM changes per-core
  * speed and memory bandwidth by the hour, and the controls tell a slow
  * window from a slow program. */
object HostControl {

  final case class Reading(sha1tMBs: Double, shaAllMBs: Double, memSumGBs: Double) {
    def line(cores: Int): String =
      f"sha256_1t=$sha1tMBs%.1f MB/s  sha256_${cores}t=$shaAllMBs%.1f MB/s  mem_sum_${cores}t=$memSumGBs%.2f GB/s"
  }

  private def parallel(threads: Int)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ => val t = new Thread(() => body); t.start(); t }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def sha(threads: Int, mbPerThread: Int): Double = {
    val buf = new Array[Byte](1 << 20)
    val secs = parallel(threads) {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var i = 0
      while (i < mbPerThread) { md.update(buf); i += 1 }
      md.digest()
    }
    threads * mbPerThread / secs
  }

  private def memSum(threads: Int, words: Int): Double = {
    val passes = 4
    val arrays = (1 to threads).map(_ => Array.tabulate(words)(_.toLong))
    val sink = new AtomicLong()
    val next = new AtomicLong()
    val secs = parallel(threads) {
      val a = arrays(next.getAndIncrement().toInt)
      var s = 0L; var p = 0
      while (p < passes) { var i = 0; while (i < words) { s += a(i); i += 1 }; p += 1 }
      sink.addAndGet(s)
    }
    threads * passes * words * 8.0 / 1e9 / secs
  }

  def measure(cores: Int): Reading = {
    // a short untimed pass first: code the JIT has not compiled yet would
    // read several times slower than the host is
    sha(1, 4); memSum(1, 1 << 20)
    Reading(sha(1, 16), sha(cores, 16), memSum(cores, 2 << 20)) // 16 MB per thread
  }
}
