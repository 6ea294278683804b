package graft
import org.apache.spark.sql.SparkSession

/** Execution-mode wiring shared by the Verify/Bench mains.
  *
  * `SPARK_GRAFT_MASTER` selects how the registry runs:
  *   - unset                  -> `local[SPARK_GRAFT_CPUS]` (one JVM; default)
  *   - `local-cluster[w,c,m]` -> a real standalone mini-cluster: SEPARATE
  *     executor JVM processes with real task-result / broadcast / shuffle
  *     serialization. local[N] keeps every object in one heap, so encoder,
  *     Kryo-registration, and closure-capture bugs (the classic "works in
  *     local, dies on a cluster" class) are structurally invisible there;
  *     this mode is the CI-runnable stand-in for a real cluster.
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
  def isCluster: Boolean =
    sys.env.get("SPARK_GRAFT_MASTER").exists(_.startsWith("local-cluster"))

  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // AQE coalescing keeps Spark's default 1 MB minPartitionSize: a 64k
    // floor measured a net loss (36.7 s vs 32.0 s summed over the registry).
    val b = SparkSession.builder().master(master)
    if (master.startsWith("local-cluster")) {
      val cp = sys.env.getOrElse("SPARK_GRAFT_EXEC_CP",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      b.config("spark.executor.extraClassPath", cp)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "2g"))
    }
    b
  }
}
