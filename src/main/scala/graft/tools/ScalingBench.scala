package graft.tools

/** The pure-CPU host ceiling calibration shared by the bench entry points.
  * Replay scaling itself is measured by `python3 cdcbench/run.py`.
  */
object ScalingBench {

  /** Pure-CPU calibration: embarrassingly parallel busy work on a plain
    * thread pool. Its N→4N speedup is the MACHINE's attainable ceiling —
    * this sandbox's 32 vCPUs deliver only ~15 effective cores (host
    * overcommit + steal), so e.g. 8→32 tops out near 0.5 efficiency for ANY
    * workload; 4→16 attains ~0.85. Engine efficiency must be judged against
    * this ceiling. */
  def calibrate(threads: Int, units: Int = 64, unitIters: Long = 30000000L): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val futures = (0 until units).map { u =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          var x = 0L; var i = 0L
          while (i < unitIters) { x += i * i; i += 1 }
          x
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }
}
