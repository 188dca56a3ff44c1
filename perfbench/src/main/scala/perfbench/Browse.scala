package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.engine.MsgEngine
import graft.model._

/** One client in a closed loop over MsgEngine: a seeded drill-down
  * session from plan.json, each call timed as one operation, against a
  * star opened with MsgVault.open (no in-memory table cache).
  */
object Browse {
  val CallClass: Map[String, String] = Map(
    "aggregate" -> "aggregate", "subAggregate" -> "aggregate",
    "listMessages" -> "list", "listMessagesAfter" -> "list",
    "messageDetail" -> "detail", "messageSummariesByIds" -> "detail",
    "searchFast" -> "search", "searchFastWithStats" -> "search",
    "searchByDomains" -> "search", "searchDeep" -> "fulltext",
    "findSimilarMessages" -> "similar")

  /** What a session reads: the engine over the opened star, the star's
    * bodies sidecar and the vector store.
    */
  final case class Star(engine: MsgEngine, bodies: DataFrame,
      vectors: DataFrame)

  /** Per-session values that later calls take from earlier answers. */
  private final class Session {
    var pageIds: Seq[Long] = Nil
    var cursor: Option[(Timestamp, Long)] = None
  }

  /** The plan's sessions, one JSON array of calls each. */
  def plan(path: String): Vector[JValue] =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")) match {
      case JArray(sessions) => sessions.toVector
      case other => throw new IllegalArgumentException(s"bad plan: $other")
    }

  private def str(c: JValue, k: String): String = (c \ k) match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"$k: $other")
  }
  private def int(c: JValue, k: String): Int = (c \ k) match {
    case JInt(i) => i.toInt
    case other => throw new IllegalArgumentException(s"$k: $other")
  }

  private def view(name: String): ViewType =
    ViewType.fromName(name).fold(e => throw new IllegalArgumentException(e), identity)

  private def ts(year: Int): Timestamp = Timestamp.valueOf(s"$year-01-01 00:00:00")

  /** The first call of each class in `session`, in session order. */
  def oneOfEachClass(session: JValue): JValue = {
    val JArray(calls) = session
    JArray(calls.groupBy(c => CallClass(str(c, "call"))).values.map(_.head)
      .toList.sortBy(c => calls.indexOf(c)))
  }

  /** The plan's drill-down filter; every browse call hides deleted rows. */
  private def filter(c: JValue, limit: Int): MessageFilter = {
    val base = MessageFilter(hideDeletedFromSource = true,
      pagination = Pagination(limit = limit))
    (c \ "filter") match {
      case JObject(List((k, JString(v)))) => k match {
        case "sender" => base.copy(sender = v)
        case "domain" => base.copy(domain = v)
        case "label" => base.copy(label = v)
        case other => throw new IllegalArgumentException(s"filter $other")
      }
      case JObject(List(("year", JInt(y)))) =>
        base.copy(after = Some(ts(y.toInt)), before = Some(ts(y.toInt + 1)))
      case _ => base
    }
  }

  /** The MessageSummary fields the checker reads. */
  private def summary(r: Row): Seq[Any] = Seq(
    r.getAs[Long]("id"), r.getAs[Timestamp]("sent_at"),
    r.getAs[String]("from_email"), r.getAs[String]("from_name"),
    r.getAs[String]("subject"), r.getAs[String]("snippet"),
    r.getAs[Timestamp]("deleted_from_source_at"))

  private val SummaryCols = Seq("id", "sent_at", "from_email", "from_name",
    "subject", "snippet", "deleted_from_source_at")

  def runSession(rec: Recorder, star: Star, round: Int,
      session: JValue): Unit = {
    val st = new Session
    val engine = star.engine
    val JArray(calls) = session
    calls.foreach { c =>
      val name = str(c, "call")
      rec.op(round, CallClass(name), name) { id =>
        def rows(out: Array[Row], extra: (String, Any)*): () => Unit = () =>
          rec.output(id, name, Map("call" -> c, "round" -> round,
            "cols" -> SummaryCols, "rows" -> out.toSeq.map(summary)) ++ extra)
        name match {
          case "aggregate" | "subAggregate" =>
            val opts = AggregateOptions(limit = int(c, "limit"))
            val out = Main.collect(rec, name) {
              if (name == "aggregate") engine.aggregate(view(str(c, "view")), opts)
              else engine.subAggregate(view(str(c, "view")), filter(c, 0), opts)
            }
            () => rec.output(id, name, Map("call" -> c, "round" -> round,
              "cols" -> Seq("key", "count"),
              "rows" -> out.toSeq.map(r => Seq(r.getAs[String]("key"), r.getAs[Long]("count")))))
          case "listMessages" =>
            val out = Main.collect(rec, name)(engine.listMessages(filter(c, int(c, "limit"))))
            st.pageIds = out.toSeq.map(_.getAs[Long]("id"))
            rows(out)
          case "listMessagesAfter" =>
            val cursor = if ((c \ "page") == JInt(2)) st.cursor else None
            val out = Main.collect(rec, name)(
              engine.listMessagesAfter(filter(c, 0), cursor, int(c, "limit")))
            st.cursor = out.lastOption.map(r =>
              (r.getAs[Timestamp]("sent_at"), r.getAs[Long]("id")))
            rows(out, "cursor" -> cursor.map { case (t, i) => Seq(t, i) })
          case "messageDetail" =>
            val target = st.pageIds.headOption.getOrElse(int(c, "fallback_id").toLong)
            val out = Main.collect(rec, name)(engine.messageDetail(target))
            () => rec.output(id, name, Map("call" -> c, "round" -> round,
              "target" -> target,
              "rows" -> out.toSeq.map(r => Seq(r.getAs[Long]("id"),
                r.getAs[String]("subject"),
                Option(r.getAs[scala.collection.Seq[Row]]("from")).toSeq.flatten
                  .map(_.getAs[String]("email"))))))
          case "messageSummariesByIds" =>
            val ids = st.pageIds.take(int(c, "n"))
            val out = Main.collect(rec, name)(engine.messageSummariesByIds(ids))
            rows(out, "ids" -> ids)
          case "searchFast" =>
            val out = Main.collect(rec, name)(
              engine.searchFast(str(c, "query"), filter(c, int(c, "limit"))))
            rows(out)
          case "searchFastWithStats" =>
            val res = rec.span("build:searchFastWithStats")(
              engine.searchFastWithStats(str(c, "query"), filter(c, 0)))
            val out = Main.collect(rec, "page")(res.page(int(c, "limit"), 0))
            val total = rec.span("exec:totalCount")(res.totalCount)
            rows(out, "total" -> total)
          case "searchByDomains" =>
            val domains = (c \ "domains") match {
              case JArray(ds) => ds.collect { case JString(d) => d }
              case _ => Nil
            }
            val out = Main.collect(rec, name)(
              engine.searchByDomains(domains, limit = int(c, "limit")))
            rows(out)
          case "searchDeep" =>
            val out = Main.collect(rec, name)(
              engine.searchDeep(str(c, "query"), star.bodies, filter(c, int(c, "limit"))))
            rows(out)
          case "findSimilarMessages" =>
            val out = Main.collect(rec, name)(
              engine.findSimilarMessages(star.vectors, int(c, "seed_id").toLong,
                limit = int(c, "limit")))
            rows(out)
        }
      }
    }
  }
}
