package graft.tools

import graft.core._
import graft.fixtures.PagesGen
import graft.pipeline.Pipeline

/** Single-threaded microbenchmark of the per-document kernels (no Spark) —
  * isolates row-local CPU cost from scheduling/shuffle effects so the e2e
  * bench numbers can be attributed.
  */
object Microbench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 5000
    val lexDe = PagesGen.lexiconFor("de")
    val lexEn = PagesGen.lexiconFor("en")
    lexDe.deleteIndex; lexEn.deleteIndex // force index build outside timing

    def time(label: String)(f: Int => Unit): Unit = {
      var i = 0
      while (i < math.min(n, 500)) { f(i); i += 1 } // warmup
      val t0 = System.nanoTime()
      i = 0
      while (i < n) { f(i); i += 1 }
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"$label%-12s ${ms / n}%8.4f ms/doc  (${n / (ms / 1000)}%9.0f docs/s 1-core)")
    }

    def fullChain(i: Int): Unit =
      Pipeline.correctPage(Pipeline.alignPage(Pipeline.segmentPage(
        PagesGen.page(i.toLong).row)), lexDe, lexEn)

    time("full-chain1")(fullChain)
    time("generate")(i => PagesGen.page(i.toLong))
    val pages = (0 until n).map(i => PagesGen.page(i.toLong).row).toArray
    time("segment")(i => Pipeline.segmentPage(pages(i)))
    val segs = pages.map(Pipeline.segmentPage(_))
    time("align")(i => Pipeline.alignPage(segs(i)))
    val aligned = segs.map(Pipeline.alignPage(_))
    time("correct")(i => Pipeline.correctPage(aligned(i), lexDe, lexEn))
    time("full-chain2")(fullChain)
  }
}
