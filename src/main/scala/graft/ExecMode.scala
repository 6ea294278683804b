package graft
import org.apache.spark.sql.SparkSession

/** The one place the program configures a Spark session. Every main
  * (the CLI, Verify, Bench, PlanDump, the `tools/` mains) and the test
  * suites get their session from [[session]], so every session the
  * program builds carries [[graft.functions.GraftExtensions]] (the SQL
  * kernel functions and the `MultiDistinctToJoin` optimizer rule) and
  * the gates measure the engine the CLI ships.
  *
  * Environment:
  *   - `SPARK_GRAFT_CPUS`    -> cores of the default master (default: the
  *     machine's processor count);
  *   - `SPARK_GRAFT_SHUFFLE` -> `spark.sql.shuffle.partitions` (default:
  *     the cores). Partitions scale with the DATA: a 100x corpus at 32
  *     partitions puts ~2M rows in every join/agg task, so scale runs
  *     pass e.g. 128; AQE coalesces small post-shuffle partitions back
  *     down, so oversizing is cheap;
  *   - `SPARK_GRAFT_MASTER`  -> the master (default: `local[cpus]`).
  *     `local-cluster[w,c,m]` runs a real standalone mini-cluster:
  *     SEPARATE executor JVM processes with real task-result /
  *     broadcast / shuffle serialization. local[N] keeps every object in
  *     one heap, so encoder, Kryo-registration, and closure-capture bugs
  *     (the classic "works in local, dies on a cluster" class) are
  *     structurally invisible there; this mode is the CI-runnable
  *     stand-in for a real cluster.
  *
  * local-cluster executors are launched as fresh JVMs by the in-process
  * Worker and do NOT inherit the driver's classpath, so this build's
  * classes dir is passed via `spark.executor.extraClassPath` (override:
  * `SPARK_GRAFT_EXEC_CP`). Run through `tools/local_cluster_gate.sh`,
  * which also points SPARK_HOME at a faked home under `target/` (jars
  * symlinked to the real distribution) so worker/executor work dirs land
  * inside the repo instead of under /opt/spark.
  */
object ExecMode {
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The active (else default) session, untouched, when one exists: an
    * in-process caller (a test suite, an embedding benchmark) keeps its
    * own configuration. Otherwise a new session with the master and
    * shuffle partitions above, UTC session time, the UI off, and
    * [[graft.functions.GraftExtensions]]. The arguments only override
    * the environment for a session built here.
    */
  def session(
      master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      shufflePartitions: String = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      : SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse {
      // AQE coalescing keeps Spark's default 1 MB minPartitionSize: a 64k
      // floor measured a net loss (36.7 s vs 32.0 s summed over the registry).
      val b = SparkSession.builder().master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
      if (master.startsWith("local-cluster")) {
        val cp = sys.env.getOrElse("SPARK_GRAFT_EXEC_CP",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
        b.config("spark.executor.extraClassPath", cp)
          .config("spark.executor.memory",
            sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "2g"))
      }
      b.getOrCreate()
    }
}
