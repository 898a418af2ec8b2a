package graft

import org.apache.spark.sql.SparkSession

/** The local session behind every graft main (Bench, Verify and the
  * tools): `local[cpus]` with one shuffle partition per core, UTC
  * session time, no UI. Callers add [[GraftExtensions]] and their own
  * confs to the returned builder, then `getOrCreate()`.
  */
object GraftSession {

  /** Core count for the mains that follow the host: `SPARK_GRAFT_CPUS`
    * when set, else the processors this JVM may use. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
