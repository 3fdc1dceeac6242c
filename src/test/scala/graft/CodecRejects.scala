package graft

import graft.codec.Reject
import org.scalatest.Assertions._

/** Decoder-rejection assertions shared by the codec specs. */
object CodecRejects {

  /** The [[Reject]] `body` throws, asserting it names `codec`. */
  def rejectOf(codec: String)(body: => Any): Reject = {
    val e = intercept[Reject](body)
    assert(e.codec == codec, e.getMessage)
    e
  }

  /** `body`'s outcome — its value, or whatever it threw — run on a
    * daemon thread so that a decoder stuck in a loop fails the calling
    * test after `limitMs` instead of hanging the suite. `None` means
    * it did not finish (the thread is abandoned; as a daemon it never
    * holds the JVM open).
    */
  def within[A](limitMs: Long)(body: => A): Option[Either[Throwable, A]] = {
    val out = new java.util.concurrent.atomic.AtomicReference[
      Either[Throwable, A]]()
    val t = new Thread(() =>
      out.set(try Right(body) catch { case e: Throwable => Left(e) }))
    t.setDaemon(true)
    t.start()
    t.join(limitMs)
    Option(out.get)
  }
}
