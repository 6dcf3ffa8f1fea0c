package graft.cdc

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local file system under the test scheme `faultfs:`, crashing on
  * demand: inside [[FaultFs.withFaults]] every rename and delete is a
  * step, numbered from 1, and a step its predicate picks throws
  * [[FaultFs.Crash]] instead of running — a crash of the writer at that
  * point. Hand an instance to a protocol that takes its `FileSystem`
  * ([[BucketStore.swap]]; scheme-less local paths resolve on it), or
  * register the class as `fs.faultfs.impl` so that code resolving its
  * own file system from a `faultfs:` path runs on it. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.step("delete", p)
    super.delete(p, recursive)
  }
}

object FaultFs {
  val Uri: URI = URI.create("faultfs:///")

  /** One step: its number, its kind (`rename`, `delete`) and the path it
    * acts on (a rename's destination). */
  final case class Step(n: Int, op: String, path: Path)

  final class Crash(s: Step) extends java.io.IOException(s"injected crash at $s")

  private val steps = new AtomicInteger
  @volatile private var crashes: Step => Boolean = _ => false

  private def step(op: String, p: Path): Unit = {
    val s = Step(steps.incrementAndGet(), op, p)
    if (crashes(s)) throw new Crash(s)
  }

  /** Run `f` with every step for which `crash` holds failing; true if one
    * did. One armed run at a time (the steps are counted per JVM). */
  def withFaults(crash: Step => Boolean)(f: => Unit): Boolean = synchronized {
    steps.set(0)
    crashes = crash
    try { f; false }
    catch { case e: Throwable if causes(e).exists(_.isInstanceOf[Crash]) => true }
    finally crashes = _ => false
  }

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  /** An instance over the local disk, for [[BucketStore.swap]]. */
  def local(conf: org.apache.hadoop.conf.Configuration): FaultFs = {
    val fs = new FaultFs
    fs.initialize(Uri, conf)
    fs
  }
}
