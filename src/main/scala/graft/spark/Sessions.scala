package graft.spark

import org.apache.spark.sql.SparkSession

/** The one session profile of a local graft session: every harness, main
  * and test fixture that builds a session starts here, so they all plan the
  * same way.
  *
  * AQE and its post-shuffle coalescing are on by Spark's own defaults, so
  * shuffle widths follow data size: `4 x cores` is only the pre-AQE upper
  * bound. `canChangeCachedPlanOutputPartitioning` lets AQE coalesce under a
  * persisted subtree too; without it an `InMemoryRelation` pins the pre-AQE
  * width and every consumer of the cache schedules those tasks.
  */
object Sessions {

  def builder(cores: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", 4 * cores)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
