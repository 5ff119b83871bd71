package graft

/** Opt-in per-query phase sub-timings (VERDICT r10 next-step #5): the
  * composite ANN queries (`q_ann_ivfpq`, `q_pq_adc`) spend their budget in
  * a build→train→encode→search cycle whose split was only visible by
  * running a dev profiler by hand — so a build-side regression and a
  * search-side regression were indistinguishable in the round artifact.
  * The eager stages of those queries wrap themselves in [[timed]]; when a
  * capture is active on the calling thread (Bench's dedicated untimed
  * diagnostic evaluation of each [[graft.Bench.PhasedQueries]] entry —
  * never its timed repeats, whose totals must stay the lazy plan's), the
  * stage durations accumulate into a named map the bench emits as an
  * optional `"phases"` block; otherwise [[timed]] is a bare call with one
  * `nanoTime` pair of overhead, so Verify/specs/production callers pay
  * nothing and see no behavior change.
  *
  * Thread-local by design: Bench forks chunks into child JVMs and times
  * queries on the child's main thread; the builder functions (train,
  * index build, served search) run eagerly on that same thread. Work a
  * query defers to lazy evaluation under `forceFrame` is deliberately NOT
  * attributed — the consumer reads `total − Σ phases` as the serve/residual
  * share, keeping the headline totals unchanged.
  */
object Phases {

  private val active =
    new ThreadLocal[scala.collection.mutable.LinkedHashMap[String, Double]]()

  /** True when a capture is active on this thread. Lets a query whose cost
    * lives in LAZY composition (the crossmodal composite — no eager
    * train/build stage to self-attribute) materialize its sides inside
    * [[timed]] stages ONLY under the bench's capture, keeping the plain
    * lazy plan for Verify/specs/production callers byte-identical.
    */
  def capturing: Boolean = active.get != null

  /** Run `f`, attributing its wall time to `phase` when a capture is
    * active on this thread. Re-entrant stages accumulate (a phase name
    * seen twice sums), and the attribution survives `f` throwing — a
    * failed stage still shows where the time went.
    */
  def timed[A](phase: String)(f: => A): A = {
    val m = active.get
    if (m == null) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        m.update(phase, m.getOrElse(phase, 0.0) + secs)
      }
    }
  }

  /** Run `f` with a fresh capture on this thread; returns its result with
    * the phases recorded during it, in first-recorded order. Nested
    * captures are not supported (the inner one would steal the outer's
    * attributions) — callers are Bench's per-query diagnostic evaluation
    * and the dev tools/specs that A/B the capture shape.
    */
  def capture[A](f: => A): (A, Seq[(String, Double)]) = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    active.set(m)
    try (f, m.toSeq)
    finally active.remove()
  }
}
