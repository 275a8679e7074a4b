package graft.perfbench

import scala.collection.mutable

/** Host-speed calibration.
  *
  * On a shared host the CPUs change speed from second to second with the
  * other tenants' load: a fixed loop on an otherwise idle 4-core host took
  * anywhere from 150 to 265 ms within a minute, all of it on-CPU time, and
  * every wall time of a run moves with it; runs that a concurrent probe
  * found slow were the slow runs of the program.
  *
  * A sampler thread runs a fixed kernel every [[IntervalMs]] for the
  * whole run — sort a seeded array of longs larger than a core's L1 and L2
  * caches, then count its high bits in a hash map of boxed keys: the mix
  * of compute, memory traffic and allocation that engine code does — and
  * records the kernel's CPU time. CPU time, not wall time, so the kernel
  * does not slow down when the program keeps every core busy and the
  * sampler waits for one. A section's wall times are scaled by
  * [[NominalMs]] over the median kernel time during the section (all
  * set-ups, or all timed passes): the time they would take on a host
  * where the kernel takes [[NominalMs]]. The kernel uses no program code,
  * so a change to the program does not move it; at about a tenth of one
  * core it loads the program the same way on every run. */
object HostSpeed {

  /** Kernel CPU time, in ms, of the nominal host the scaled times refer
    * to (about the median on the 4-core host the benchmark was tuned on). */
  val NominalMs = 7.5

  /** Pause between two kernel runs. */
  val IntervalMs = 40L

  private val Input = {
    val rnd = new java.util.SplittableRandom(7L)
    Array.fill(1 << 16)(rnd.nextLong())
  }
  private val cpu = java.lang.management.ManagementFactory.getThreadMXBean

  /** (end, in System.nanoTime, kernel CPU ms) of every kernel run. */
  private val samples = mutable.ArrayBuffer[(Long, Double)]()
  @volatile private var running = false
  private var thread: Thread = _
  @volatile private var sink = 0L

  private def kernel(): Unit = {
    val a = Input.clone()
    java.util.Arrays.sort(a)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < a.length) {
      counts.merge(a(i) >>> 48, 1L, (x: java.lang.Long, y: java.lang.Long) => x + y)
      i += 4
    }
    sink += counts.size + a(a.length / 2)
  }

  def start(): Unit = {
    running = true
    thread = new Thread(() => {
      while (running) {
        val c0 = cpu.getCurrentThreadCpuTime
        kernel()
        val ms = (cpu.getCurrentThreadCpuTime - c0) / 1e6
        val end = System.nanoTime()
        samples.synchronized { samples += ((end, ms)) }
        Thread.sleep(IntervalMs)
      }
    }, "perfbench-host-speed")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    if (thread != null) thread.join()
  }

  /** Median kernel CPU ms of the runs that ended between `t0` and `t1`
    * (System.nanoTime). */
  def kernelMs(t0: Long, t1: Long): Double = Stats.median(samples.synchronized {
    samples.filter { case (t, _) => t >= t0 && t <= t1 }.map(_._2).toSeq
  })
}
