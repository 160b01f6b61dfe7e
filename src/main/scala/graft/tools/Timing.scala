package graft.tools

/**
 * Shared measurement protocol for the scale timers: one discarded
 * warm-up, then FIVE timed runs, reporting the TRIMMED MEAN (drop min
 * and max, average the middle three) plus the full per-run list and the
 * relative spread (max−min)/mean.
 *
 * Round 8's ×100 tables used warm median-of-3 and showed run-to-run
 * variance up to ±40% on >10 s queries (GC pauses, page-cache state,
 * sibling-tenant noise) — too wide to attribute a single-round delta.
 * The trimmed mean of 5 keeps the robustness of the median (one bad run
 * cannot move it) while averaging out the residual two-run jitter, and
 * publishing the spread makes any still-noisy row self-labeling instead
 * of silently authoritative.
 */
object Timing {
  /** Timed runs after the warm-up. */
  val Runs = 5

  /** (trimmedMean, runs) of five timed executions after one warm-up.
    * `after(i)` runs outside the timed region once run `i` finished
    * (0 = the warm-up, 1..[[Runs]] = the timed runs). */
  def measure(fn: => Unit, after: Int => Unit = _ => ()): (Double, Array[Double]) = {
    fn // warm-up (codegen, file listing, JIT) — discarded
    after(0)
    val runs = Array.tabulate(Runs) { i =>
      val t0 = System.nanoTime()
      fn
      val t = (System.nanoTime() - t0) / 1e9
      after(i + 1)
      t
    }
    val sorted = runs.sorted
    (sorted.slice(1, 4).sum / 3.0, runs)
  }

  def report(name: String, extra: () => String = () => "",
             after: Int => Unit = _ => ())(fn: => Unit): Double = {
    val (mean, runs) = measure(fn, after)
    val spread = if (mean > 0) (runs.max - runs.min) / mean else 0.0
    val ex = extra()
    println(f"$name%s ${if (ex.nonEmpty) ex + " " else ""}trimmed_mean=$mean%.3f " +
      f"spread=${spread * 100}%.1f%% runs=${runs.map(t => f"$t%.3f").mkString(",")}")
    mean
  }
}
