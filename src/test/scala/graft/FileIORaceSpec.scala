package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.storage.FileIO
import graft.testfs.SinglePutFileSystem

/** `readBytes` races `writeAtomic` on the Hadoop legs: every read must
  * return one WHOLE published version. A read that pairs the stream of
  * one version with the length of the other returns a truncated
  * prefix or throws EOFException — the manifest-load failure a
  * polling stream hits while its store commits. */
class FileIORaceSpec extends SparkSpec {

  SinglePutFileSystem.install(spark)

  private val small = Array.fill[Byte](200)('a'.toByte)
  private val large = Array.fill[Byte](4000)('b'.toByte)

  /** Bad reads (a wrong result or a throw) in `millis` of racing. */
  private def race(dir: String, millis: Long): (Int, Int, List[String]) = {
    val io = FileIO.forPath(dir)
    io.mkdirs(dir)
    val path = FileIO.join(dir, "manifest.json")
    io.writeAtomic(path, small)
    val stop = new AtomicBoolean(false)
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        io.writeAtomic(path, if (i % 2 == 0) large else small)
        i += 1
      }
    })
    writer.start()
    var reads = 0
    var bad = 0
    val samples = List.newBuilder[String]
    val end = System.nanoTime() + millis * 1000000L
    try {
      while (System.nanoTime() < end) {
        reads += 1
        val why =
          try {
            val got = io.readBytes(path)
            if (java.util.Arrays.equals(got, small) ||
              java.util.Arrays.equals(got, large)) None
            else Some(s"${got.length} bytes")
          } catch { case e: Exception => Some(e.toString) }
        why.foreach { w => if (bad < 3) samples += w; bad += 1 }
      }
    } finally {
      stop.set(true)
      writer.join()
    }
    (reads, bad, samples.result())
  }

  for ((leg, scheme) <- Seq("object-store (graftput:)" -> "graftput:",
    "hadoop file:" -> "file:"))
    test(s"readBytes racing writeAtomic returns whole versions: $leg") {
      val (reads, bad, samples) = race(scheme + tmpDir("io-race-"), 3000L)
      assert(reads > 100, s"only $reads reads in the race window")
      assert(bad == 0, s"$bad of $reads reads were torn: $samples")
    }
}
