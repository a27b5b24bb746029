package graft

/** Thread count of the `local[N]` sessions the mains build, which also
  * sets their shuffle partitions: `SPARK_GRAFT_CPUS` when set, else
  * every core the JVM may use.
  */
private[graft] object Cores {
  def local: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
