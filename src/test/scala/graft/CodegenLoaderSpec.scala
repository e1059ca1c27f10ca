package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver compiles generated code under the loader its local tasks
  * run under ([[CodegenLoader]]), so a task finds the class the driver
  * compiled instead of compiling it again. */
class CodegenLoaderSpec extends AnyFunSuite {
  import TestSession._

  /** This thread's context loader once the shared session exists: the
    * suites run on the thread that creates it. */
  private def sessionLoader(): ClassLoader = {
    spark
    Thread.currentThread.getContextClassLoader
  }

  /** The context loader a task of this session runs under. */
  private def taskLoader(): ClassLoader = {
    spark.sparkContext.parallelize(Seq(0), 1).foreach { _ =>
      CodegenLoaderSpec.seen.set(Thread.currentThread.getContextClassLoader)
    }
    CodegenLoaderSpec.seen.get
  }

  /** Runs `body` on a new thread whose context loader is `loader`. */
  private def onThread(loader: ClassLoader)(body: => Unit): Unit = {
    val failure = new AtomicReference[Throwable]
    val t = new Thread(() => try body catch { case e: Throwable => failure.set(e) })
    t.setContextClassLoader(loader)
    t.start(); t.join()
    Option(failure.get).foreach(e => throw e)
  }

  /** Classes compiled JVM-wide while `body` runs on a new thread with
    * context loader `loader`. */
  private def compilesOn(loader: ClassLoader)(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    onThread(loader)(body)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Two whole-stage stages around a shuffle; `k` is inlined into the
    * generated source, so a fresh `k` misses every cached class. */
  private def shape(k: Long): Unit =
    spark.range(0, 2000, 1, 2)
      .select((col("id") * k + k % 13).as("v"))
      .where(col("v") % 7 =!= 3)
      .groupBy(col("v") % 5)
      .agg(sum(col("v")))
      .collect()

  test("a local task runs under the session thread's context loader") {
    val session = sessionLoader()
    assert(taskLoader() eq session)
    assert(CodegenLoader.localTaskLoader.exists(_ eq session))
  }

  test("a fresh query compiles fewer classes on the session thread than under the app loader") {
    val session = sessionLoader()
    val app = classOf[CodegenLoaderSpec].getClassLoader
    assume(!(app eq taskLoader()), "tasks run under the app loader; nothing to align")
    val k = System.nanoTime() | 1L
    // first runs on each side compile the classes no literal enters
    compilesOn(session)(shape(k))
    compilesOn(app)(shape(k + 2))
    val aligned = compilesOn(session)(shape(k + 4))
    val split = compilesOn(app)(shape(k + 6))
    assert(aligned > 0, "a literal no earlier query used must compile")
    assert(aligned < split, s"session thread compiled $aligned classes, app-loader thread $split")
  }

  test("application end restores the creating thread's loader, so executor loaders do not chain") {
    val app = classOf[CodegenLoaderSpec].getClassLoader
    def current = Thread.currentThread.getContextClassLoader
    onThread(app) {
      for (_ <- 1 to 2) {
        // an Executor parents its loader on the creating thread's context loader
        val executorLoader = new java.net.URLClassLoader(Array.empty, current)
        assert(executorLoader.getParent eq app)
        val hook = new CodegenLoader(Some(executorLoader))
        assert(current eq executorLoader)
        hook.onApplicationEnd(SparkListenerApplicationEnd(0L))
        assert(current eq app)
      }
      // no local executor: the thread keeps its loader
      new CodegenLoader(None)
      assert(current eq app)
    }
  }
}

object CodegenLoaderSpec {
  /** Written by a task of the shared local session, read by the test. */
  val seen = new AtomicReference[ClassLoader]
}
