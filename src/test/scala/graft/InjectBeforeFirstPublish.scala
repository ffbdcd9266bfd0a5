package graft

import graft.table.LogStore

/** Wraps the default store; fires `inject` once, immediately before
  * the first commit publish it sees, to create a deterministic
  * write-write race. Commits `inject` makes publish straight through.
  */
final class InjectBeforeFirstPublish(inject: () => Unit) extends LogStore {
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val injecting = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  override def publishOnce(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, dest: org.apache.hadoop.fs.Path): Unit = {
    if (!injecting.get() && fired.compareAndSet(false, true)) {
      injecting.set(true)
      try inject() finally injecting.set(false)
    }
    graft.table.HadoopFsLogStore.publishOnce(fs, tmp, dest)
  }
}
