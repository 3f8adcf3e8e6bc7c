package graft.operators

/** Run independent Spark actions as concurrent jobs from one session
  * — the fan-out used by store builders, fold appends, and staged
  * writes whose artifacts target disjoint paths. Serializing such
  * writes costs one fixed job latency (shuffle + commit) each, which
  * dominates small folds; Spark schedules concurrent jobs from one
  * SparkContext safely (FIFO within the default pool).
  *
  * Every action is awaited before the first failure surfaces: a
  * fail-fast return would leave sibling jobs writing while the caller
  * proceeds to cleanup or repair (a repair could delete a staged dir
  * under a live writer). */
object Par {
  def run(actions: Seq[() => Unit]): Unit = {
    if (actions.isEmpty) return
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(8, actions.size))
    val results = try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      actions.map(a => scala.concurrent.Future(scala.util.Try(a()))(ec))
        .map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    results.collectFirst { case scala.util.Failure(e) => throw e }
  }
}
