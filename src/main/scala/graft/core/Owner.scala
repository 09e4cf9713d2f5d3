package graft.core

/** What a call leaves behind — a checkpoint, a persisted frame, a
  * streaming query, a temp view, a scratch directory — released when
  * the call's scope ends. [[own]] registers a resource with its release;
  * [[Owner.using]] runs a body and then releases everything it owned in
  * reverse order of registration, on normal or thrown exit. Every
  * release runs even if one throws: an exception from the body wins and
  * release failures are added to it as suppressed; otherwise the first
  * release failure is thrown, with the later ones suppressed on it.
  *
  * The owner only releases: it never hands a resource to a second call,
  * so nothing is cached across scopes. */
final class Owner private () {

  private var releases: List[() => Unit] = Nil

  /** Registers `resource` to be released by `release` when this owner
    * closes, and returns it. */
  def own[R](resource: R)(release: R => Unit): R = synchronized {
    releases = (() => release(resource)) :: releases
    resource
  }

  /** Runs every registered release, latest first, adding each failure
    * to `failure` (the body's exception, or else the first release's). */
  private def close(failure: Option[Throwable]): Unit = {
    val pending = synchronized { val r = releases; releases = Nil; r }
    val first = pending.foldLeft(failure) { (err, release) =>
      try { release(); err }
      catch { case t: Throwable => err.foreach(_.addSuppressed(t)); err.orElse(Some(t)) }
    }
    if (failure.isEmpty) first.foreach(throw _)
  }
}

object Owner {

  /** The innermost [[scope]] open on each thread (null outside one). */
  private val ambient = new ThreadLocal[Owner]

  /** Runs `body` with a fresh owner and closes it on exit, normal or
    * thrown. The owner is never ambient: [[adopt]] ignores it. */
  def using[T](body: Owner => T): T = {
    val owner = new Owner
    val out =
      try body(owner)
      catch { case t: Throwable => owner.close(Some(t)); throw t }
    owner.close(None)
    out
  }

  /** Runs `body` (a call and the action consuming its result) as this
    * thread's ambient scope: what it [[adopt]]s is released when it
    * exits, normal or thrown. Scopes nest; exit restores the outer one. */
  def scope[T](body: => T): T = using { o =>
    o.own(ambient.get)(ambient.set)
    ambient.set(o)
    body
  }

  /** Registers `resource` with the innermost [[scope]] on this thread
    * and returns it; outside one it is returned unregistered, kept. */
  def adopt[R](resource: R)(release: R => Unit): R =
    Option(ambient.get).fold(resource)(_.own(resource)(release))
}
