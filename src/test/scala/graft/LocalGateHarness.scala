package graft

/** Local-vs-frame equivalence runs through the one [[LocalGate]] budget:
  * [[framesAndLocal]] evaluates a body forced onto every kernel's frame
  * path (budget 0) and again with a 1 GB budget, and asserts from the
  * gate's decision counts that each named kernel really took the route
  * each side claims — so a silent fallback cannot make an equivalence
  * pass vacuously. The body must force its result (collect). */
trait LocalGateHarness { self: SparkSpec =>

  def withBudget[A](bytes: Long)(body: => A): A = {
    val prev = spark.conf.getOption(LocalGate.MaxBytesKey)
    spark.conf.set(LocalGate.MaxBytesKey, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(LocalGate.MaxBytesKey))(
      spark.conf.set(LocalGate.MaxBytesKey, _))
  }

  /** (frame result, local result) of `body`; every kernel in `kernels`
    * routed to frames only at budget 0 and to the local path only at
    * 1 GB. */
  def framesAndLocal[A](kernels: String*)(body: => A): (A, A) = {
    def routed(bytes: Long): (A, Map[String, LocalGate.Decisions]) = {
      val before = LocalGate.decisions
      val out = withBudget(bytes)(body)
      val zero = LocalGate.Decisions(0L, 0L, 0L)
      (out, LocalGate.decisions.map { case (k, d) =>
        val b = before.getOrElse(k, zero)
        k -> LocalGate.Decisions(d.local - b.local, d.frame - b.frame, d.bytes - b.bytes)
      })
    }
    val (frame, viaFrames) = routed(0L)
    val (local, viaLocal) = routed(1L << 30)
    kernels.foreach { k =>
      val f = viaFrames.get(k)
      assert(f.exists(_.frame > 0), s"$k did not route to frames at budget 0: $f")
      val l = viaLocal.get(k)
      assert(l.exists(d => d.local > 0 && d.frame == 0),
        s"$k did not route local at a 1 GB budget: $l")
    }
    (frame, local)
  }
}
