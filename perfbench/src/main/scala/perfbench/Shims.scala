package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.operators.OrientOps
import graft.sources.HttpOps

/** Counting and timing wrappers around the engine's adapter seams, used
  * by traced runs only. Spark runs `local[N]`, so executor tasks share
  * this JVM and the counters are plain process-wide adders. */
object Shims {

  final class Counter {
    val calls = new LongAdder
    val busyNs = new LongAdder
    def reset(): Unit = { calls.reset(); busyNs.reset() }
    def snapshot: (Long, Double) = (calls.sum(), busyNs.sum() / 1e9)
    @inline def time[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally { calls.increment(); busyNs.add(System.nanoTime() - t0) }
    }
  }

  val fetch = new Counter
  val ocr = new Counter
  val spell = new Counter

  def resetAll(): Unit = { fetch.reset(); ocr.reset(); spell.reset() }

  final class CountingFetcher(inner: HttpOps.HttpFetcher) extends HttpOps.HttpFetcher {
    def fetch(url: String): (Int, Array[Byte]) = Shims.fetch.time(inner.fetch(url))
  }

  final class CountingOcr(inner: OrientOps.OcrAdapter) extends OrientOps.OcrAdapter {
    def ocr(content: Array[Byte], rotation: Int): String =
      Shims.ocr.time(inner.ocr(content, rotation))
  }

  final class CountingSpell(inner: OrientOps.SpellAdapter) extends OrientOps.SpellAdapter {
    def misspelled(text: String): Long = Shims.spell.time(inner.misspelled(text))
  }

  /** A deliberately wrong transport for the benchmark's self-test: one
    * URL in 50 that the stub serves gets the wrong status. The output
    * checks must notice. */
  object FaultyFetcher extends HttpOps.HttpFetcher {
    def fetch(url: String): (Int, Array[Byte]) = {
      val (status, body) = HttpOps.StubFetcher.fetch(url)
      if (status == 200 && math.floorMod(url.hashCode, 50) == 7) (404, null)
      else (status, body)
    }
  }
}
