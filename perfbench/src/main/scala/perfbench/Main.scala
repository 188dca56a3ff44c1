package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.engine.MsgVault

/** Runs one workload for a fixed window and writes its records under
  * `--work`; run.py turns them into metrics and checks the outputs.
  *
  *   perfbench.Main --workload archive|curate --work DIR
  *                  --seconds S --trace 0|1 --cores N
  *
  * Every workload: set-up repeated [[SetupReps]] times (its walls give
  * setup_s), then whole rounds of the same operations until the window
  * has passed.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val spark = session(cores, work)
    try {
      val rec = new Recorder(spark, opts("trace") == "1", work)
      val extra = workload match {
        case "archive" => Archive.run(spark, rec, work, seconds)
        case "curate" => Curate.run(spark, rec, work, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.finish(workload, cores, extra)
    } finally spark.stop()
  }

  /** The one session configuration every workload uses. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Normalized archive tables written by gen.py, one directory each. */
  def inputVault(spark: SparkSession, dir: String): MsgVault = {
    def t(n: String) = spark.read.parquet(s"$dir/$n")
    MsgVault.fromFrames(spark, t("messages"), t("message_recipients"),
      t("participants"), t("labels"), t("message_labels"), t("attachments"),
      t("conversations"), t("sources"))
  }

  /** Whole rounds until `seconds` have passed since the first began. */
  def rounds(seconds: Double)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      r += 1
      round(r)
    }
    r
  }

  /** Build, plan and execute one DataFrame under three spans. */
  def collect(rec: Recorder, label: String)(build: => DataFrame): Array[Row] = {
    val df = rec.span(s"build:$label")(build)
    rec.span(s"plan:$label")(df.queryExecution.executedPlan)
    rec.span(s"exec:$label")(df.collect())
  }

  /** Hard-link every file under `from` into the same place under `to`. */
  def linkTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = java.nio.file.Files.walk(src)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).forEach { p =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.createLink(dst, p)
    }
    finally walk.close()
  }
}
