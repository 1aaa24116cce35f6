package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ocsf.OcsfTables

/** The hunts a lake user runs: the nine nested-field shapes of the
  * registered `q_ocsf_lake_*` queries (graft.queries.OcsfLakeQueries),
  * restated over this benchmark's own lake because the registered
  * entries are bound to a fixed lake path, plus two time-window hunts
  * read through the stats index (`OcsfTables.loadWhere`). Every table is
  * resolved at query time, so table loading is part of a hunt. */
object Hunts {

  /** A hunt builds its plan through a [[Tables]] resolver, which records
    * every table it loaded and the time loading took. */
  final case class Hunt(name: String, build: Tables => DataFrame)

  final class Tables(spark: SparkSession, base: String) {
    val loaded = collection.mutable.ArrayBuffer[DataFrame]()
    var loadNanos = 0L
    private def timed(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val d = df
      loadNanos += System.nanoTime() - t0
      loaded += d
      d
    }
    def load(route: String): DataFrame = timed(OcsfTables.load(spark, base, route))
    def where(route: String, cond: String): DataFrame =
      timed(OcsfTables.loadWhere(spark, base, route, cond))
  }

  private def fmtTime(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** The day the day-partition hunt selects: the second eventDay. */
  val HuntDay: Int = Gen.dayOf(Gen.Day0Ms + Gen.DayMs)

  val DayClasses = Seq("Process Activity", "Network Activity", "DNS Activity",
    "Authentication", "HTTP Activity")

  /** Literal bounds, so the stats index can prune on them. */
  def windowCond(name: String): String = {
    val (lo, hi) = Gen.window(name)
    def lit(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
      .replace("T", " ").stripSuffix("Z")
    s"time >= timestamp'${lit(lo)}' AND time < timestamp'${lit(hi)}'"
  }

  private val completenessFields = Seq(
    "Process Activity" -> Seq("process.pid", "process.file.name", "device.os.type"),
    "DNS Activity" -> Seq("query.hostname", "rcode", "src_endpoint.uid"),
    "Authentication" -> Seq("user.name", "logon_type_id", "status"))

  val all: Seq[Hunt] = Seq(
    Hunt("completeness", t =>
      completenessFields.map { case (tbl, fields) =>
        val flat = fields.map(_.replace('.', '_'))
        val aggs = count(lit(1)).as("n_rows") +:
          fields.zip(flat).map { case (f, a) => count(col(f)).as(a) }
        t.load(tbl).agg(aggs.head, aggs.tail: _*)
          .select(explode(array(fields.zip(flat).map { case (f, a) =>
            struct(lit(tbl).as("table_name"), lit(f).as("field"),
              col("n_rows"), col(a).as("n_nonnull"))
          }: _*)).as("x"))
          .select(col("x.*"))
      }.reduce(_ unionByName _)),
    Hunt("proc_days", t =>
      t.load("Process Activity")
        .filter(col("device.os.type") === "Windows" &&
          col("process.parent_process.file.name") === "explorer.exe")
        .groupBy(col("eventDay").cast("int").as("event_day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("process.pid")).as("n_pids"),
          fmtTime(max(col("time"))).as("max_time"))),
    Hunt("dns_family", t =>
      t.load("DNS Activity")
        .filter(col("query.hostname").startsWith("host12"))
        .groupBy(col("query.hostname").as("hostname"), col("rcode").as("rcode"))
        .agg(count(lit(1)).as("n_queries"),
          countDistinct(col("src_endpoint.uid")).as("n_devices"))),
    Hunt("http_errors", t =>
      t.load("HTTP Activity")
        .filter(col("status_code") === "404")
        .groupBy(col("http_request.url.hostname").as("hostname"),
          col("http_request.http_method").as("http_method"))
        .agg(count(lit(1)).as("n_errors"))),
    Hunt("auth_users", t =>
      t.load("Authentication")
        .groupBy(col("user.name").as("user_name"))
        .agg(count(lit(1)).as("n_logons"),
          countDistinct(col("logon_type_id")).as("n_logon_types"))),
    Hunt("net_direction", t =>
      t.load("Network Activity")
        .groupBy(col("connection_info.direction").as("direction"),
          col("dst_endpoint.port").as("dst_port"))
        .agg(count(lit(1)).as("n_conns"),
          countDistinct(col("dst_endpoint.ip")).as("n_dst_ips"))),
    Hunt("observables", t =>
      t.load("Process Activity")
        .select(explode(col("observables")).as("ob"))
        .groupBy(col("ob.type_id").as("type_id"), col("ob.type").as("obs_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("ob.value")).as("n_values"))),
    Hunt("day_classes", t =>
      DayClasses.map { tbl =>
        t.load(tbl).filter(col("eventDay") === HuntDay)
          .select(col("class_uid"), col("class_name"), col("category_name"))
      }.reduce(_ union _)
        .groupBy("class_uid", "class_name", "category_name")
        .agg(count(lit(1)).as("n_events"))),
    Hunt("extapi", t =>
      t.load("extApi")
        .groupBy(col("status").as("status"),
          col("http_request.http_method").as("http_method"),
          col("src_endpoint.owner.account.type").as("account_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("http_request.url.path")).as("n_paths"))),
    Hunt("window_dns", t =>
      t.where("DNS Activity", windowCond("dns"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("query.hostname")).as("n_hosts"))),
    Hunt("window_proc", t =>
      t.where("Process Activity", windowCond("proc"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("process.pid")).as("n_pids"))))

  /** Order-independent digest of a result. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Count checks against the generator: the hunts whose answers it
    * knows. Returns the names of the checks that failed. */
  def countMismatches(name: String, rows: Array[org.apache.spark.sql.Row],
                      exp: Expected): Seq[String] = name match {
    case "proc_days" =>
      val got = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (got == exp.procWinExplorerPerDay.filter(_._2 > 0)) Nil else Seq(name)
    case "day_classes" =>
      val got = rows.map(r => r.getString(1) -> r.getLong(3)).toMap
      val want = DayClasses.map(c => c -> exp.perRouteDay.getOrElse((c, HuntDay), 0L))
        .filter(_._2 > 0).toMap
      if (got == want) Nil else Seq(name)
    case "window_dns" | "window_proc" =>
      val want = exp.windows.getOrElse(name.stripPrefix("window_"), 0L)
      if (rows.length == 1 && rows(0).getLong(0) == want) Nil else Seq(name)
    case _ => Nil
  }
}
