package graft.core

/** A counted driver finish. An operator measures an exact size of its
  * input (edges, distinct pairs, collected longs, cells) and, at or
  * below its gate's bound, collects and finishes on the driver; above
  * it, the operator's distributed plan runs unchanged. The small side is
  * the reference's single-process path (`DatasetProfile.track`, SURVEY
  * §3.1), the large side a bounded distributed plan, split at a measured
  * size (*Approximation Algorithms for Large Scale Data Analysis*, PODS
  * 2021).
  *
  * Driver memory caps every bound: what the finish collects, and the
  * structures it builds from it, stay within a few tens of MB of driver
  * memory at worst. That is far past any fixture, monitoring batch or
  * curation batch, and far below a corpus-scale input, which keeps the
  * distributed plan. A bound sits lower where the driver finish stops
  * being faster (`Profiler.LocalCellBound`). Each bound's own sizing is
  * documented where it is declared, next to its algorithm. */
final class Gate private[graft] (val name: String, val default: Long) {

  /** The bound in force on this thread: the innermost [[Gate.withBound]]
    * scope that sets this gate or every gate, else [[default]]. */
  def bound: Long = Gate.scopes.get.collectFirst {
    case (only, b) if only.forall(_ eq this) => b
  }.getOrElse(default)

  /** True when a measured size fits the driver finish (`<=` [[bound]]). */
  def admits(measured: Long): Boolean = measured <= bound

  /** Test only: runs `body` with this gate's bound set to `bound`. */
  private[graft] def withBound[T](bound: Long)(body: => T): T =
    Gate.scoped(Some(this), bound)(body)
}

object Gate {

  /** Innermost first: the gate a scope sets (None = every gate) and its
    * bound. Per thread, so a scope forces only what its own thread runs;
    * a stream reads its bound when it starts. */
  private val scopes = ThreadLocal.withInitial[List[(Option[Gate], Long)]](() => Nil)

  /** Test only: runs `body` with every gate's bound set to `bound`; 0
    * forces every distributed side and `Long.MaxValue` every driver
    * side. Scopes nest, and each restores the bounds on exit, normal or
    * not. */
  private[graft] def withBound[T](bound: Long)(body: => T): T = scoped(None, bound)(body)

  private def scoped[T](only: Option[Gate], bound: Long)(body: => T): T = {
    val outer = scopes.get
    scopes.set((only, bound) :: outer)
    try body
    finally scopes.set(outer)
  }
}
