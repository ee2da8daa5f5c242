package graft

/** Step timing, printed when GRAFT_TIMING=1 (perf triage aid). Labels
  * carry their module prefix (`canon.`, `store.`, `patch.`, `publish.`,
  * `bootstrap.`, `incr.`). */
object Timing {
  def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      println(f"[graft-timing] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }
}
