package graft

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.serializer.Serializer

/** Puts the thread that creates a local-mode SparkContext under the
  * class loader the local executor's tasks run under, so each
  * generated class compiles once per JVM instead of once per side.
  *
  * `CodeGenerator` caches a compiled class by (thread context loader,
  * source). `WholeStageCodegenExec` compiles every stage on the driver
  * to check its size, and the first task to run the stage compiles it
  * again unless the task's context loader is the one the driver used.
  * Tasks run under the executor's default task loader (session
  * artifact isolation is off in [[GraftSession.builder]]); this makes
  * it the driver's loader too.
  *
  * Registered by [[GraftSession.builder]] as `spark.extraListeners`.
  * SparkContext constructs extra listeners on the creating thread once
  * the task scheduler has started; a local backend has built its
  * `Executor` by then, which hands its default task loader to
  * `SparkEnv.serializer`. Threads started afterwards inherit the
  * loader: `QueryServer`'s handler and prefetch threads, the
  * shuffle-exchange, broadcast-exchange and result-stage pools that AQE
  * materializes stages on, stream execution threads. Threads that
  * were already running keep theirs and still compile twice. With no
  * local executor (a cluster master) the serializer has no default
  * loader and this does nothing.
  *
  * When the application ends the creating thread gets its old loader
  * back. An `Executor` parents its loader on the creating thread's, so
  * without the restore a context stopped and created again would chain
  * each new executor loader onto the last one.
  */
final class CodegenLoader private[graft] (taskLoader: Option[ClassLoader]) extends SparkListener {
  def this() = this(CodegenLoader.localTaskLoader)

  private val thread = Thread.currentThread
  private val previous = thread.getContextClassLoader
  taskLoader.foreach(thread.setContextClassLoader)

  override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
    taskLoader.foreach { l =>
      if (thread.getContextClassLoader eq l) thread.setContextClassLoader(previous)
    }
}

object CodegenLoader {
  /** The local executor's default task loader, when this JVM runs one.
    * `Serializer.defaultClassLoader` is `protected` in Scala but public
    * in bytecode, so plain reflection reads it; None if Spark renames it. */
  private[graft] def localTaskLoader: Option[ClassLoader] =
    Option(SparkEnv.get).flatMap { env =>
      try classOf[Serializer].getMethod("defaultClassLoader").invoke(env.serializer)
        .asInstanceOf[Option[ClassLoader]]
      catch { case _: ReflectiveOperationException => None }
    }
}
