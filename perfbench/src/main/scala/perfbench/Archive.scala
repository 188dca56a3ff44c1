package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.{CacheBuilder, MsgEngine, MsgVault}
import graft.model.{AggregateOptions, ViewType}
import graft.operators.Export

/** The message archive as a mail client uses it. Set-up is the full
  * CacheBuilder build of the base archive (about 50k messages over six
  * years) plus its bodies sidecar. Each round: a batch of new mail lands
  * and is refreshed into the star (staleness, incremental build, reopen,
  * first totalStats + aggregate answer); one reader session drills down
  * through the reopened star; then one mbox export of exactly 50,000
  * messages at the default shard sizing.
  */
object Archive {
  def run(spark: SparkSession, rec: Recorder, work: String,
      seconds: Double): Map[String, Any] = {
    val in = s"$work/inputs"
    val meta = JsonFile.read(s"$in/inputs.json")
    val bound = meta("export_id_bound").toString.toLong
    val batches = Iterator.from(1).takeWhile(k =>
      new java.io.File(s"$in/batch$k").isDirectory).toVector
    val plan = Browse.plan(s"$in/plan.json")
    // a fresh input and star per repetition; the rounds use the last
    val (input, star) = (1 to Main.SetupReps).map { rep =>
      val (input, star) = (s"$work/setup$rep/input", s"$work/setup$rep/star")
      Main.linkTree(s"$in/base", input)
      rec.setup(rep) {
        val vault = rec.span("build:input")(Main.inputVault(spark, input))
        rec.span("exec:CacheBuilder.build")(CacheBuilder.build(spark, vault, star))
        rec.span("exec:CacheBuilder.buildBodies")(CacheBuilder.buildBodies(
          spark, spark.read.parquet(s"$input/bodies"), star))
      }
      (input, star)
    }.last
    rec.mark("setup")
    // untimed warm-up: one call of each class over the set-up star, so the
    // timed session measures the engine's steady state, not its JIT
    rec.recording = false
    Browse.runSession(rec, Browse.Star(new MsgEngine(MsgVault.open(spark, star)),
      spark.read.parquet(s"$star/message_bodies"), spark.read.parquet(s"$input/vectors")),
      0, Browse.oneOfEachClass(plan.last))
    rec.recording = true
    rec.mark("warmup")
    // whole rounds until the window has passed, one landed batch each
    var r = 0
    val t0 = System.nanoTime()
    while (r < batches.size && (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      r += 1
      val engine = refresh(spark, rec, r, s"$in/batch${batches(r - 1)}", input, star)
      Browse.runSession(rec, Browse.Star(engine,
        spark.read.parquet(s"$star/message_bodies"),
        spark.read.parquet(s"$input/vectors")), r, plan((r - 1) % plan.size))
      exportMbox(spark, rec, r, s"$work/export$r", star, bound)
    }
    rec.mark("window")
    rec.windowEnd()
    Map("rounds" -> r, "star" -> star, "input" -> input, "export_id_bound" -> bound)
  }

  /** Lands a batch, then times the refresh from landed batch to the first
    * answer over the refreshed star; returns the reopened engine.
    */
  private def refresh(spark: SparkSession, rec: Recorder, r: Int, batch: String,
      input: String, star: String): MsgEngine = {
    Main.linkTree(batch, input)
    var engine: MsgEngine = null
    rec.op(r, "refresh", "refresh") { id =>
      val vault = rec.span("build:input")(Main.inputVault(spark, input))
      val before = rec.span("exec:CacheBuilder.staleness")(
        CacheBuilder.staleness(spark, vault, star))
      val n = rec.span("exec:CacheBuilder.build")(
        CacheBuilder.build(spark, vault, star, forceFull = before.fullRebuild))
      engine = rec.span("build:MsgVault.open")(new MsgEngine(MsgVault.open(spark, star)))
      val stats = Main.collect(rec, "totalStats")(engine.totalStats())
      val top = Main.collect(rec, "aggregate")(
        engine.aggregate(ViewType.Senders, AggregateOptions(limit = 20)))
      () => {
        val after = CacheBuilder.staleness(spark, vault, star)
        rec.output(id, "refresh", Map("round" -> r, "batch" -> batch,
          "before" -> Map("needs_build" -> before.needsBuild,
            "full" -> before.fullRebuild, "reasons" -> before.reasons),
          "exported" -> n,
          "message_count" -> stats.head.getAs[Long]("message_count"),
          "top_senders" -> top.length,
          "after" -> Map("needs_build" -> after.needsBuild,
            "full" -> after.fullRebuild, "reasons" -> after.reasons)))
      }
    }
    if (engine == null) engine = new MsgEngine(MsgVault.open(spark, star))
    engine
  }

  private def exportMbox(spark: SparkSession, rec: Recorder, r: Int, out: String,
      star: String, bound: Long): Unit =
    rec.op(r, "export", "export") { id =>
      val (msgs, record) = rec.span("build:export_frame") {
        val m = MsgVault.open(spark, star).messages.filter(col("id") <= bound)
        val mime = concat(lit("Subject: "), coalesce(col("subject"), lit("")),
          lit("\n\n"), coalesce(col("snippet"), lit("")), lit("\n"))
        (m, Export.mboxRecord(col("source_message_id"), col("sent_at"), mime))
      }
      rec.span("exec:Export.writeMbox")(Export.writeMbox(msgs, col("id"), record, out))
      () => rec.output(id, "export", Map("round" -> r, "dir" -> out, "id_bound" -> bound))
    }
}
