package graft.sources

/** How both WAQI scan paths ([[WaqiSource.fetchPayloads]] and
  * [[WaqiTableProvider]]) split a city list into Spark tasks.
  *
  * A city list goes into
  * `max(1, min(cities, PartitionsPerCore × defaultParallelism))`
  * contiguous slices ([[slices]]), one Spark task each, and a task
  * calls [[WaqiTransport.fetch]] once per city of its slice, in order.
  * One task per city made the fetch scheduling-bound: a 200-city batch
  * cost 405 tasks for a CPU-only transport. Two slices per core keep a
  * second wave for the scheduler to balance a slow slice with, and a
  * list shorter than that still gets one partition per city. The
  * factor is a constant by design (not tuned against other factors):
  * no conf or option sets it.
  *
  * A task fetches its slice sequentially: with a CPU-only transport the
  * slices already keep every core busy. Overlapping a live transport's
  * latency inside a task (a bounded in-flight window) is left until a
  * benchmark workload has a transport with latency to measure it on.
  */
object Fetch {

  val PartitionsPerCore = 2

  /** Slice `i` of `k` holds cities `[i·n/k, (i+1)·n/k)` — deterministic
    * and contiguous, so concatenating the slices gives the input order.
    * Both scan paths plan their partitions here. */
  def slices(cities: Seq[String], parallelism: Int): Seq[Seq[String]] = {
    val all = cities.toVector
    val k = math.max(1, math.min(all.size, PartitionsPerCore * parallelism))
    (0 until k).map { i =>
      all.slice((i.toLong * all.size / k).toInt,
        ((i + 1).toLong * all.size / k).toInt)
    }
  }
}
