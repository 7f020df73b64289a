package graft.operators

/** Driver-side overlap of INDEPENDENT Spark actions (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once in
  * one application — actions are only sequential because driver code
  * calls them sequentially. Multi-table index builds commit a handful
  * of tiny, mutually independent tables; submitting those commits from
  * a small thread pool lets one commit's tasks back-fill the executor
  * slots another's tail leaves idle, instead of paying the full
  * plan+land+publish latency once per table, serially.
  *
  * Not a semantics change: each thunk runs exactly the action it ran
  * before, once; callers only pass thunks with no cross-table ordering
  * contract between them. */
object Par {

  /** Run the thunks concurrently and wait for ALL of them (a failed
    * sibling must not leave another thunk's commit half-observed);
    * propagate the first failure after every thunk has finished. An
    * interrupt of the caller does not cut the wait short either: it is
    * remembered, the wait goes on, and the caller's interrupt status
    * is restored once every thunk is done. */
  def all(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) { thunks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    var interrupted = false
    try {
      val futs = thunks.map { t =>
        pool.submit(new Runnable { override def run(): Unit = t() })
      }
      var first: Throwable = null
      futs.foreach { f =>
        var done = false
        while (!done) {
          try { f.get(); done = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (first == null) first = e.getCause
              done = true
            case _: InterruptedException => interrupted = true
          }
        }
      }
      if (first != null) throw first
    } finally {
      pool.shutdown()
      if (interrupted) Thread.currentThread().interrupt()
    }
  }
}
