package scratch

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dump `.explain("formatted")` of every registered query (or the
  * comma-separated SPARK_GRAFT_ONLY subset) to
  * <SPARK_GRAFT_PLAN_DIR>/<name>_<SUFFIX>.txt, under the bench's session
  * posture (shuffle partitions = cores, AQE coalescing off). Two dumps of
  * the same queries, one per revision, show whether a refactor changed
  * any plan. Defaults: SPARK_GRAFT_SF_DIR the sf0.1 test data,
  * SPARK_GRAFT_CPUS 4, SPARK_GRAFT_PLAN_DIR /tmp/graft_plans,
  * SPARK_GRAFT_PLAN_SUFFIX "before".
  *
  * Usage, from the repo root:
  *   SPARK_GRAFT_SF_DIR=<sf0.1 dir> SPARK_GRAFT_PLAN_SUFFIX=before \
  *   sbt "set Compile/unmanagedSourceDirectories += file(\"tools\"); runMain scratch.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR",
      "/tmp/graft_plans"))
    Files.createDirectories(outDir)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Same fixture prep as the bench: indexed-probe plans need the index
    // layouts on disk or their scans plan against a fallback build.
    try graft.queries.LlmQueries.prepareIndexes(spark, sfDir)
    catch { case _: Throwable => () }
    var nOk = 0
    var nFail = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(outDir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          nOk += 1
        } catch {
          case e: Throwable =>
            nFail += 1
            println(s"PLANDUMP FAIL $name ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).takeWhile(_ != '\n'))
        }
        // Sweep blocks a query's BUILD left behind (pinned frames), as the
        // bench does between reps, so 231 plan builds don't accrete heap.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    spark.stop()
    println(s"PLANDUMP DONE ok=$nOk fail=$nFail suffix=$suffix dir=$outDir")
  }
}
