package graft.queries

/** Run independent in-query table builds CONCURRENTLY (guide §2.6: actions
  * only serialize because the driver calls them sequentially; a second
  * build's tasks back-fill executors freed by the first one's tail). For
  * the two-table SPJ/bucketed-join setups, the two clustered commits have
  * no data dependency — each is its own root — and the snapshot layer
  * supports concurrent same-session commits by design (each write carries
  * its own writer conf and never touches the session's; publish is
  * optimistic). Rethrows the first failure after all complete. */
object Par {
  def apply(builds: (() => Unit)*): Unit = {
    if (builds.sizeIs <= 1) { builds.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try {
      val futs = builds.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = b()
      }))
      // get() rethrows the build's exception (wrapped); surface the cause
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }
}
