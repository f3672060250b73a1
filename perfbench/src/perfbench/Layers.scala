package perfbench

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FusedScorer, LangId, Perplexity, Scrub}

object Stats {
  def median(xs: Seq[Double]): Option[Double] = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }

  /** Highest of p90/p99/p99.9 with at least 10 samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq("p99.9" -> 0.999, "p99" -> 0.99, "p90" -> 0.9)
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .flatMap { case (n, q) => quantile(xs, q).map(n -> _) }
}

/** Per-layer measurements of the traced run. */
object Layers {

  /** Per-layer metric values. */
  final class Probe {
    val values = mutable.LinkedHashMap.empty[String, Double]
    def set(n: String, v: Double): Unit = values(n) = v
    /** Median wall seconds of three runs of `body`. */
    def time[T](n: String)(body: => T): Unit = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      set(n, Stats.median(ts).get)
    }
  }

  /** Docs per second of `f` over `texts` on one thread: repeats the
    * sample for at least `minS` seconds of warm-up (the kernel may not
    * have run in this JVM yet), then until `minS` more have passed. */
  private def rate(texts: Array[String], minS: Double)(f: String => Any): Double = {
    def loop(): Double = {
      var n = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minS) {
        texts.foreach(f); n += texts.length
        el = (System.nanoTime() - t0) / 1e9
      }
      n / el
    }
    loop()
    loop()
  }

  /** The functions layer: direct calls with no Spark. */
  def functions(texts: Seq[String], r: Probe, threads: Int,
                minS: Double = 0.4): Unit = {
    val ts = texts.toArray
    val utf = ts.map(UTF8String.fromString)
    val bytes = utf.map(_.numBytes().toLong).sum
    val fusedOne = {
      var i = 0
      val perRound = rate(ts, minS) { _ =>
        FusedScorer.score(utf(i % utf.length), true); i += 1 }
      perRound
    }
    r.set("functions.fused_docs_per_s", fusedOne)
    r.set("functions.fused_mb_per_s", fusedOne * bytes / ts.length / 1e6)
    r.set("functions.langid_docs_per_s", rate(ts, minS)(LangId.predict))
    r.set("functions.ppl_docs_per_s", rate(ts, minS)(Perplexity.perplexity))
    r.set("functions.scrub_docs_per_s", rate(ts, minS)(Scrub.scrubString))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until threads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = {
            var i = 0
            rate(ts, minS) { _ => FusedScorer.score(utf(i % utf.length), true); i += 1 }
          }
        })
      }
      val total = fs.map(_.get()).sum
      r.set("functions.fused_thread_eff", total / (threads * fusedOne))
    } finally pool.shutdown()
  }
}
