package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import graft.ocsf.OcsfMappings

/** Input properties of one workload's FDR corpus. `skew` is the Zipf
  * exponent of the route mix (route k carries weight 1/(k+1)^skew), so a
  * few routes carry most events and the slowest route shows. */
final case class CorpusSpec(events: Int, objects: Int, days: Int, skew: Double)

/** What the generator promises about the corpus it wrote: the numbers
  * every workload's output checks compare against. */
final case class Expected(
    mapped: Long,
    perRoute: Map[String, Long],
    perRouteDay: Map[(String, Int), Long],
    badLines: Map[String, Long],
    procWinExplorerPerDay: Map[Int, Long],
    windows: Map[String, Long],
    objectBytes: Long)

/** Seeded synthetic FDR landing data: gzipped JSON-lines objects whose
  * lines follow the sensor event shapes of the 13 sink routes, plus a
  * fixed share of malformed, no-event-key and unmapped lines. The same
  * seed writes byte-identical objects. */
object Gen {

  /** 2023-11-15T00:00:00Z: the first eventDay of every corpus. */
  val Day0Ms = 1700006400000L
  val DayMs = 86400000L

  /** Shares of malformed, no-event-key and unmapped lines. */
  val MalformedShare = 0.004
  val NoKeyShare = 0.003
  val UnmappedShare = 0.005

  /** One event shape per sink route, in skew-rank order. */
  val Shapes: Seq[String] = Seq(
    "ProcessRollup2", "NetworkConnectIP4", "DnsRequest", "SensorHeartbeat",
    "UserLogon", "HttpRequest", "Event_ExternalApiEvent", "NewScriptWritten",
    "InstalledApplication", "KextLoad", "LFODownloadConfirmation",
    "ScriptControlDetectInfo", "InstalledUpdates")

  private def routeOf(eventName: String): String = {
    val e = OcsfMappings.baseEvents.find(_.eventName == eventName)
      .getOrElse(sys.error(s"generator shape $eventName is not mapped"))
    OcsfMappings.routeFor(e.eventName, e.className)
  }

  /** eventDay partition value (yyyyMMdd, UTC) of an epoch-ms time. */
  def dayOf(ms: Long): Int = {
    val d = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** Time windows the windowed hunts ask for: one hour of day 1 each. */
  def window(name: String): (Long, Long) = name match {
    case "dns" => (Day0Ms + DayMs + 6 * 3600000L, Day0Ms + DayMs + 7 * 3600000L)
    case _ => (Day0Ms + DayMs + 14 * 3600000L, Day0Ms + DayMs + 15 * 3600000L)
  }

  private def line(shape: String, j: Long, ts: Long, r: SplittableRandom,
                   seed: Long): (String, Boolean) = {
    val id = s"e-$seed-$j"
    val aid = s"aid-${r.nextInt(4000)}"
    val cid = s"cid-${r.nextInt(97)}"
    def head(name: String, ver: String, platform: String) =
      s""""event_simpleName":"$name","name":"$name$ver","aid":"$aid","cid":"$cid","id":"$id","timestamp":"$ts","event_platform":"$platform""""
    val plat = r.nextInt(10) match { case 0 | 1 => "Lin"; case 2 => "Mac"; case _ => "Win" }
    shape match {
      case "ProcessRollup2" =>
        val parent = if (r.nextInt(5) == 0) "services.exe" else "explorer.exe"
        (s"""{${head(shape, "V19", plat)},"aip":"10.0.${r.nextInt(256)}.${r.nextInt(256)}","ImageFileName":"C:/W/cmd${r.nextInt(900)}.exe","CommandLine":"cmd /c job $j","SHA256HashData":"${r.nextInt(100000)}a","RawProcessId":"${1000 + r.nextInt(50000)}","ParentBaseFileName":"$parent"}""",
          plat == "Win" && parent == "explorer.exe")
      case "NetworkConnectIP4" =>
        (s"""{${head(shape, "V10", plat)},"LocalPort":"${1024 + r.nextInt(60000)}","RemotePort":"${if (r.nextInt(4) == 0) 80 else 443}","RemoteAddressIP4":"93.184.${r.nextInt(256)}.${r.nextInt(256)}","LocalAddressIP4":"10.0.0.${r.nextInt(256)}","ConnectionDirection":"${r.nextInt(4)}"}""", false)
      case "DnsRequest" =>
        (s"""{${head(shape, "V4", plat)},"DomainName":"host${r.nextInt(5000)}.example.com","ContextBaseFileName":"proc${r.nextInt(11)}"}""", false)
      case "SensorHeartbeat" =>
        (s"""{${head(shape, "V4", plat)},"ConfigBuild":"1007.${r.nextInt(10)}"}""", false)
      case "UserLogon" =>
        (s"""{${head(shape, "V10", "Win")},"UserName":"user${r.nextInt(500)}","UserSid":"S-1-5-$j","LogonType":"${2 + r.nextInt(11)}","UserIsAdmin":"${r.nextInt(2)}"}""", false)
      case "HttpRequest" =>
        (s"""{${head(shape, "V1", plat)},"HttpMethod":"${1 + r.nextInt(8)}","HttpHost":"api${r.nextInt(31)}.example.com","HttpPath":"/v1/r/${r.nextInt(1000)}","HttpStatus":"${if (r.nextInt(9) == 0) 404 else 200}"}""", false)
      case "Event_ExternalApiEvent" =>
        (s"""{"event_simpleName":"Event_ExternalApiEvent","ExternalApiType":"Event_AuthActivityAuditEvent","UTCTimestamp":"$ts","UserIp":"9.9.${r.nextInt(256)}.9","AgentIdString":"$aid","cid":"$cid","UserId":"u${r.nextInt(300)}@example.com","CustomerIdString":"cust-${r.nextInt(5)}","AuditKeyValues":[{"Key":"request_method","ValueString":"${if (r.nextInt(3) == 0) "POST" else "GET"}"},{"Key":"status_code","ValueString":"200"},{"Key":"trace_id","ValueString":"t-$j"},{"Key":"request_path","ValueString":"/v1/${r.nextInt(400)}"}]}""", false)
      case "NewScriptWritten" =>
        (s"""{${head(shape, "V1", "Lin")},"TargetFileName":"/tmp/s$j.sh","TargetDirectoryName":"/tmp","UserName":"svc${r.nextInt(17)}","ContentSHA256HashData":"${r.nextInt(100000)}b"}""", false)
      case "InstalledApplication" =>
        (s"""{${head(shape, "V1", "Win")},"UpdateFlag":"${r.nextInt(6)}","AppName":"App${r.nextInt(200)}","AppVendor":"Vendor${r.nextInt(40)}","AppVersion":"1.${r.nextInt(30)}"}""", false)
      case "KextLoad" =>
        (s"""{${head(shape, "V1", "Mac")},"BundleID":"com.example.k${r.nextInt(29)}","ImageFileName":"/L/E/k$j.kext","SHA256HashData":"${r.nextInt(100000)}c"}""", false)
      case "LFODownloadConfirmation" =>
        (s"""{${head(shape, "V1", "Win")},"SourceFileName":"f$j.bin","SHA256HashData":"${r.nextInt(100000)}d","DownloadServer":"lfo${r.nextInt(7)}.example.com","DownloadPort":"443"}""", false)
      case "ScriptControlDetectInfo" =>
        (s"""{${head(shape, "V1", "Win")},"ImageFileName":"ps$j.exe","CommandLine":"ps -enc $j","ContentSHA256HashData":"${r.nextInt(100000)}e","ContextProcessId":"$j","ParentImageFileName":"cmd.exe"}""", false)
      case "InstalledUpdates" =>
        (s"""{${head(shape, "V1", "Win")},"Status":"${r.nextInt(2)}","InstalledUpdateIds":"KB$j;KB${j + 1}"}""", false)
    }
  }

  /** Writes `spec.objects` gz objects into `dir` and returns what they
    * hold. Event times are uniform over `spec.days` days and each object
    * holds one contiguous time slice, as FDR lands them. */
  def write(dir: Path, spec: CorpusSpec, seed: Long): Expected = {
    val r = new SplittableRandom(seed)
    val weights = Shapes.indices.map(k => 1.0 / math.pow(k + 1, spec.skew))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val times = Array.fill(spec.events)(Day0Ms + r.nextLong(spec.days * DayMs))
    java.util.Arrays.sort(times)
    val perRoute = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val perRouteDay = collection.mutable.Map[(String, Int), Long]().withDefaultValue(0L)
    val bad = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val procWin = collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    val windows = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val perObject = (spec.events + spec.objects - 1) / spec.objects
    var j = 0
    (0 until spec.objects).foreach { o =>
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(dir.resolve(f"fdr-$o%04d.gz").toFile)), "UTF-8"), 1 << 16)
      val end = math.min(spec.events, j + perObject)
      while (j < end) {
        val ts = times(j)
        val u = r.nextDouble()
        if (u < MalformedShare) {
          w.write(s"""{"event_simpleName":"DnsRequest","aid":"aid-$j","timestamp":"$ts""""); bad("unparseable_json") += 1
        } else if (u < MalformedShare + NoKeyShare) {
          w.write(s"""{"aid":"aid-$j","cid":"cid-1","timestamp":"$ts"}"""); bad("missing_event_key") += 1
        } else if (u < MalformedShare + NoKeyShare + UnmappedShare) {
          w.write(s"""{"event_simpleName":"PerfbenchUnmappedEvent","aid":"aid-$j","timestamp":"$ts"}"""); bad("unmapped_event") += 1
        } else {
          val v = r.nextDouble()
          val shape = Shapes(cum.indexWhere(v < _) match { case -1 => Shapes.size - 1; case k => k })
          val (text, winExplorer) = line(shape, j, ts, r, seed)
          w.write(text)
          val route = routeOf(shape)
          val day = dayOf(ts)
          perRoute(route) += 1
          perRouteDay((route, day)) += 1
          if (winExplorer) procWin(day) += 1
          Seq("dns" -> "DnsRequest", "proc" -> "ProcessRollup2").foreach { case (wn, s) =>
            val (lo, hi) = window(wn)
            if (shape == s && ts >= lo && ts < hi) windows(wn) += 1
          }
        }
        w.write("\n")
        j += 1
      }
      w.close()
    }
    val bytes = Files.list(dir).mapToLong(p => Files.size(p)).sum()
    Expected(perRoute.values.sum, perRoute.toMap, perRouteDay.toMap, bad.toMap,
      procWin.toMap, windows.toMap, bytes)
  }
}
