package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.cypher.{BoltQueryServer, CypherParser, GraphStore, PropertyGraph}
import graft.operators.{CacheScope, GraphExport}
import graft.sinks.bolt.BoltSocketSession

/** `cypher_wire`: one Bolt client in a closed loop against a read-write
  * [[BoltQueryServer]] over a standing graph, sending the statement
  * shapes of the reference's projectors.
  *
  * Set-up materializes the standing graph the way the reference's
  * batch job does: harness tables → the demo graph's assembly
  * (`Queries54.demoGraph`, map props) plus the weather and nutrient
  * nodes an earlier projector run left (see [[Wire.Projected]]) →
  * gated `GraphExport.exportGraph` → read-back checked → [[GraphStore]]
  * → server → one client.
  *
  * One pass re-projects part of that window with exactly eight writes,
  * so every pass crosses one store fold (the store compacts every 8
  * writes):
  *   - two station-days, each the reference WeatherDay projector's
  *     statement sequence (graph_weather_day.py:230-257, as graft's
  *     `cy_ref_weather` replays it): MERGE the day node, MATCH … SET
  *     its measurements, MATCH both ends and MERGE the HAS_WEATHER_DAY
  *     edge; one day is followed by a point read and the other by a
  *     1-hop read, and each read must return what was just written;
  *   - two 1000-row batches of the reference's only batched statement,
  *     the nutrient writer (graph_app_nutrient_content.py:146-162, as
  *     graft's `cy_ref_nutrient` quotes it).
  * The proportion of station-days to batches is chosen so that a pass
  * holds one fold; the reference runs its projectors one after the
  * other, so it has no interleaving to copy. Every key is one the standing graph
  * already holds (a re-run of the projector over its window), so the
  * store keeps its size from pass to pass. The seed drives the days,
  * the values and the order of the reads.
  */
final class Wire(spark: SparkSession, tracer: Tracer, seed: Long, work: String)
    extends Workload {
  import Wire._

  private var server: BoltQueryServer = _
  private var client: BoltSocketSession = _
  private var held: Seq[DataFrame] = Nil
  private var stagedRows = 0L
  private var bytesWritten = 0L
  private var staging = 0
  // the input tables are fixed (scale and generator seed), so they are
  // generated once per checkout and shared by every run
  private val dir = {
    val shared = new java.io.File(work).getParentFile
    val d = new java.io.File(shared, s"tables-sf$Sf-seed$FixtureSeed")
    if (!new java.io.File(d, "_COMPLETE").exists()) {
      val tmp = new java.io.File(work, "tables")
      Fixtures.write(spark, tmp.getPath, Sf, FixtureSeed)
      new java.io.File(tmp, "_COMPLETE").createNewFile()
      if (!tmp.renameTo(d)) require(new java.io.File(d, "_COMPLETE").exists(),
        s"could not place the input tables at $d")
    }
    d.getPath
  }

  def stage(): Unit = {
    closeServer()
    staging += 1
    val root = s"$work/wire-$staging/graph"
    val (v0, e0) = tracer.span("domain.assemble", "domain") {
      val g0 = graft.Queries54.demoGraph(spark, dir)
      val (pv, pe) = Projected.frames(spark)
      val v0 = g0.vertices.unionByName(pv).persist()
      val e0 = g0.edges.unionByName(pe).persist()
      // demoGraph only builds plans; running them here keeps the
      // assembly's jobs in this span instead of the export's
      v0.write.format("noop").mode("overwrite").save()
      e0.write.format("noop").mode("overwrite").save()
      (v0, e0)
    }
    held = Seq(v0, e0)
    val (rv, re) = tracer.span("export.graph", "export")(
      GraphExport.exportGraph(spark, v0, e0, root))
    val v = rv.select("id", "label", "props")
    val e = re.select("src", "dst", "rel", "props")
    tracer.span("export.readback", "export") {
      val labels = v.groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rels = e.groupBy("rel").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Fixtures.rowCounts(Sf)
      val expected = Map("Customer" -> want("customer"), "Nation" -> 25L, "Region" -> 5L,
        "Order" -> want("orders"), "Part" -> want("part")) ++ Projected.labelCounts
      require(labels == expected, s"export read-back labels $labels, expected $expected")
      require(rels.get("FROM_NATION").contains(want("customer")) &&
        rels.get("IN_REGION").contains(25L) && rels.get("PLACED").contains(want("orders")) &&
        rels.getOrElse("CONTAINS", 0L) > 0 &&
        Projected.relCounts.forall { case (r, n) => rels.get(r).contains(n) },
        s"export read-back rels $rels")
      stagedRows = labels.values.sum + rels.values.sum
    }
    bytesWritten = dirBytes(new java.io.File(root))
    val store = new GraphStore(PropertyGraph(v, e), Projected.keys)
    server = new BoltQueryServer(store)
    client = new BoltSocketSession(server.host, server.port, "perfbench", 10000)
    written.clear()
  }

  // ---- the statement stream and what it must have written ----------
  private val rnd = new scala.util.Random(seed)
  /** Last value written per (label, key), on top of [[Projected]]'s. */
  private val written = mutable.Map.empty[(String, String), String]

  private val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var unwindRows = 0L
  private var unwindS = 0.0

  /** Run one statement; a throw or a wrong answer fails it and it
    * contributes no timing sample. */
  private def stmt(op: String, text: String, params: Map[String, Any], rows: Int = 0)
                  (checkRows: Seq[Seq[Any]] => Option[String]): Option[String] = {
    opsAttempted += 1
    if (tracer.active) tracer.span("cypher.parse", "cypher")(CypherParser.parseAny(text))
    val t0 = System.nanoTime()
    val res = try {
      tracer.span(op, "wire") {
        if (op == "read") checkRows(client.query(text, params)._2)
        else { client.run(text, params); None }
      }
    } catch { case e: Exception => Some(s"$op threw $e") }
    val dt = (System.nanoTime() - t0) / 1e9
    res match {
      case Some(_) => opsFailed += 1
      case None =>
        opsCompleted += 1
        lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += dt
        if (op == "unwind") { unwindRows += rows; unwindS += dt }
    }
    res
  }

  def pass(): Pass = cycle(DaysPerPass, Projected.Batches)

  /** Half a cycle (one station-day, one batch): every statement shape
    * runs once, at about half the cost of a pass. Any 8 consecutive
    * writes cross one fold, so every timed pass keeps its fold. */
  override def warm(): Pass = cycle(1, 1)

  private def cycle(days: Int, batches: Int): Pass = {
    val t0 = System.nanoTime()
    val errors = mutable.ArrayBuffer.empty[String]
    def note(r: Option[String]): Unit = r.foreach(errors += _)
    // one read per station-day, alternating point and 1-hop reads;
    // the seed draws which kind comes first
    val pointFirst = rnd.nextBoolean()
    for (t <- 0 until days) {
      val serial = Projected.serial(rnd.nextInt(Projected.Stations))
      val date = Projected.date(rnd.nextInt(Projected.Days))
      val (tmin, tmax) = ((rnd.nextInt(30) - 10).toString, (rnd.nextInt(30) + 20).toString)
      val day = Map[String, Any]("serial" -> serial, "date" -> date)
      note(stmt("merge_node",
        "MERGE (wd:WeatherDay { station_serial: $serial, date: $date })", day)(_ => None))
      note(stmt("set",
        """MATCH (wd:WeatherDay { station_serial: $serial, date: $date })
          |SET wd.`air_temp_min` = $tmin,
          |    wd.`air_temp_max` = $tmax""".stripMargin,
        day ++ Map("tmin" -> tmin, "tmax" -> tmax))(_ => None))
      note(stmt("merge_edge",
        """MATCH (s:Station { serial_number: $serial })
          |MATCH (wd:WeatherDay { station_serial: $serial, date: $date })
          |MERGE (s)-[:HAS_WEATHER_DAY]->(wd)""".stripMargin, day)(_ => None))
      written(("WeatherDay", s"$serial|$date")) = s"$tmin|$tmax"
      if ((t % 2 == 0) == pointFirst) note(stmt("read",
        """MATCH (wd:WeatherDay { station_serial: $serial, date: $date })
          |RETURN wd.`air_temp_min` AS tmin, wd.`air_temp_max` AS tmax""".stripMargin, day) { rows =>
          val got = rows.map(_.map(String.valueOf))
          if (got == Seq(Seq(tmin, tmax))) None
          else Some(s"read-your-writes: ($serial, $date) returned $got, wrote ($tmin, $tmax)")
        })
      else note(stmt("read",
        """MATCH (s:Station { serial_number: $serial })-[:HAS_WEATHER_DAY]->(wd:WeatherDay { date: $date })
          |RETURN wd.`air_temp_max` AS tmax""".stripMargin, day) { rows =>
          val got = rows.map(_.map(String.valueOf))
          if (got == Seq(Seq(tmax))) None
          else Some(s"1-hop: ($serial, $date) returned $got, wrote $tmax")
        })
    }
    for (b <- 0 until batches) {
      val rows = (0 until Projected.BatchRows).map { j =>
        val r = Projected.nutrientRow(b, j) + ("val" -> rnd.nextInt(1000).toString)
        written(("AppNutrientContent", s"${r("pa_id")}|${r("nutrient")}")) = r("val").toString
        r
      }
      note(stmt("unwind", NutrientStmt, Map("rows" -> rows), rows.size)(_ => None))
    }
    Pass((System.nanoTime() - t0) / 1e9, errors.isEmpty, errors.headOption)
  }

  /** The store holds exactly the projected window, with the last
    * value written to each day and nutrient, and has not grown. */
  def finalCheck(): Boolean = {
    def rows(q: String): Seq[Seq[String]] = client.query(q)._2.map(_.map(String.valueOf))
    def one(q: String): Long = rows(q).head.head.toLong
    val counts = (Projected.labelCounts.map { case (l, _) => l -> one(s"MATCH (n:$l) RETURN count(n) AS n") } ++
      Projected.relCounts.map { case (r, _) => r -> one(s"MATCH ()-[r:$r]->() RETURN count(r) AS n") }).toMap
    val total = one("MATCH (n) RETURN count(n) AS n") + one("MATCH ()-[r]->() RETURN count(r) AS n")
    val days = rows("""MATCH (wd:WeatherDay) RETURN wd.station_serial AS s, wd.date AS d,
                      |wd.`air_temp_min` AS lo, wd.`air_temp_max` AS hi""".stripMargin)
      .map(r => s"${r(0)}|${r(1)}" -> s"${r(2)}|${r(3)}").toMap
    val nutrients = rows("""MATCH (a:AppNutrientContent)
                           |RETURN a.product_application_id AS p, a.nutrient AS n, a.pct_or_g_L AS v""".stripMargin)
      .map(r => s"${r(0)}|${r(1)}" -> r(2)).toMap
    def expect(label: String, initial: Map[String, String]) =
      initial ++ written.collect { case ((l, k), v) if l == label => k -> v }
    val problems = Seq(
      if (counts == Projected.labelCounts ++ Projected.relCounts) None
      else Some(s"counts $counts, expected ${Projected.labelCounts ++ Projected.relCounts}"),
      if (total == stagedRows) None else Some(s"store holds $total rows, staged $stagedRows"),
      if (days == expect("WeatherDay", Projected.initialDays)) None
      else Some("WeatherDay values differ from the last ones written"),
      if (nutrients == expect("AppNutrientContent", Projected.initialNutrients)) None
      else Some("AppNutrientContent values differ from the last ones written")).flatten
    problems.foreach(p => System.err.println(s"[perfbench] final check: $p"))
    problems.isEmpty
  }

  override def resetCounters(): Unit = {
    super.resetCounters(); lat.clear(); unwindRows = 0; unwindS = 0
  }
  override def exportBytes: Long = bytesWritten
  override def storeRows: Long = stagedRows

  def report(windowS: Double): Seq[Main.Metric] = {
    def p50(op: String) = lat.get(op).filter(_.nonEmpty).map(xs => Main.median(xs.toSeq) * 1000)
      .getOrElse(Double.NaN)
    Seq(
      Main.Metric("merge_node_p50_ms", p50("merge_node"), "ms"),
      Main.Metric("set_p50_ms", p50("set"), "ms"),
      Main.Metric("merge_edge_p50_ms", p50("merge_edge"), "ms"),
      Main.Metric("read_p50_ms", p50("read"), "ms"),
      Main.Metric("stmt_per_s", opsCompleted / windowS, "1/s"),
      Main.Metric("unwind_rows_per_s", if (unwindS > 0) unwindRows / unwindS else Double.NaN, "1/s"),
      Main.Metric("input.standing_rows", stagedRows.toDouble, "count"),
      Main.Metric("input.bucket_probe_rows", GraphStore.BucketProbeRows.toDouble, "count"))
  }

  private def closeServer(): Unit = {
    if (client != null) client.close()
    if (server != null) server.close()
    client = null; server = null
    held.foreach(_.unpersist(blocking = true))
    held = Nil
    CacheScope.global.release()
  }
  def close(): Unit = closeServer()

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

object Wire {
  /** Harness scale of the demo graph (~19k rows, below
    * `GraphStore.BucketProbeRows`); generator seed fixed, read-only. */
  val Sf = 0.002
  val FixtureSeed = 42L
  val DaysPerPass = 2

  /** The reference's nutrient writer, verbatim
    * (graph_app_nutrient_content.py:146-162). */
  val NutrientStmt =
    """
        UNWIND $rows AS r
        // Ensure parent ProductApplication exists.
        MATCH (pa:ProductApplication { application_event_id: r.app_ev_id, idx: r.pa_idx })
        // Upsert AppNutrientContent node keyed by PA id + nutrient name.
        MERGE (anc:AppNutrientContent { product_application_id: r.pa_id, nutrient: r.nutrient })
        SET anc.pct_or_g_L = r.val
        // Link PA → ANC.
        MERGE (pa)-[:HAS_NUTRIENT_CONTENT]->(anc)
        // Optionally link FertilizerProduct → ANC when name/brand exist.
        WITH anc, r
        CALL {
          WITH anc, r
          WITH anc, r WHERE r.name IS NOT NULL AND r.brand IS NOT NULL
          MATCH (fp:FertilizerProduct { name: r.name, brand: r.brand })
          MERGE (fp)-[:CONTAINS_NUTRIENT]->(anc)
          RETURN 0
        }
        """

  /** What an earlier run of the reference's weather and nutrient
    * projectors left in the graph, built as rows in the engine's id
    * convention (`label:key1:key2`, keys also in props):
    *   - 8 stations with one WeatherDay each for every day of the
    *     reference's default window, 2025-06-01 + 83 days
    *     (main_graph_topraq.py:79-80), linked by HAS_WEATHER_DAY;
    *   - 1000 ProductApplications with two AppNutrientContents each
    *     (one per batch), linked by HAS_NUTRIENT_CONTENT; 25
    *     FertilizerProducts, linked by CONTAINS_NUTRIENT to the rows
    *     that name an existing product (three rows in four carry a
    *     name, drawn from 30 products of which 25 exist).
    * Key sets and names are fixed; only the written values vary. */
  object Projected {
    val Stations = 8
    val Days = 83
    val Batches = 2
    val BatchRows = 1000
    val Products = 25
    private val Nutrients = Seq("nitrogen", "potassium")

    def serial(i: Int): String = s"S$i"
    def date(i: Int): String = java.time.LocalDate.of(2025, 6, 1).plusDays(i).toString

    val keys: Map[String, Seq[String]] = Map(
      "Station" -> Seq("serial_number"),
      "WeatherDay" -> Seq("station_serial", "date"),
      "ProductApplication" -> Seq("application_event_id", "idx"),
      "FertilizerProduct" -> Seq("name", "brand"),
      "AppNutrientContent" -> Seq("product_application_id", "nutrient"))

    /** Row `j` of batch `b`, without its value. */
    def nutrientRow(b: Int, j: Int): Map[String, Any] = {
      val named = j % 4 != 0
      Map("app_ev_id" -> j.toLong, "pa_idx" -> 1L, "pa_id" -> (j * 10L + 1),
        "nutrient" -> Nutrients(b),
        "name" -> (if (named) s"product-${j % 30}" else null),
        "brand" -> (if (named) s"Brand#${j % 30}" else null))
    }
    private def linksProduct(j: Int) = j % 4 != 0 && j % 30 < Products

    val labelCounts: Map[String, Long] = Map(
      "Station" -> Stations.toLong, "WeatherDay" -> Stations.toLong * Days,
      "ProductApplication" -> BatchRows.toLong, "FertilizerProduct" -> Products.toLong,
      "AppNutrientContent" -> Batches.toLong * BatchRows)
    val relCounts: Map[String, Long] = Map(
      "HAS_WEATHER_DAY" -> Stations.toLong * Days,
      "HAS_NUTRIENT_CONTENT" -> Batches.toLong * BatchRows,
      "CONTAINS_NUTRIENT" -> Batches.toLong * (0 until BatchRows).count(linksProduct))

    val initialDays: Map[String, String] =
      (for (s <- 0 until Stations; d <- 0 until Days) yield s"${serial(s)}|${date(d)}" -> "0|0").toMap
    val initialNutrients: Map[String, String] =
      (for (b <- 0 until Batches; j <- 0 until BatchRows)
        yield s"${j * 10L + 1}|${Nutrients(b)}" -> "0").toMap

    def frames(spark: SparkSession): (DataFrame, DataFrame) = {
      import spark.implicits._
      def v(label: String, props: (String, String)*) =
        (keys(label).map(k => props.toMap.apply(k)).mkString(s"$label:", ":", ""), label, props.toMap)
      val stations = (0 until Stations).map(s => v("Station", "serial_number" -> serial(s)))
      val days = for (s <- 0 until Stations; d <- 0 until Days) yield v("WeatherDay",
        "station_serial" -> serial(s), "date" -> date(d), "air_temp_min" -> "0", "air_temp_max" -> "0")
      val pas = (0 until BatchRows).map(j =>
        v("ProductApplication", "application_event_id" -> j.toString, "idx" -> "1"))
      val fps = (0 until Products).map(k =>
        v("FertilizerProduct", "name" -> s"product-$k", "brand" -> s"Brand#$k"))
      val ancs = for (b <- 0 until Batches; j <- 0 until BatchRows) yield v("AppNutrientContent",
        "product_application_id" -> (j * 10L + 1).toString, "nutrient" -> Nutrients(b), "pct_or_g_L" -> "0")
      val edges =
        days.map(d => (stations(d._3("station_serial").drop(1).toInt)._1, d._1, "HAS_WEATHER_DAY")) ++
        ancs.map { a =>
          val j = ((a._3("product_application_id").toLong - 1) / 10).toInt
          (pas(j)._1, a._1, "HAS_NUTRIENT_CONTENT")
        } ++
        ancs.flatMap { a =>
          val j = ((a._3("product_application_id").toLong - 1) / 10).toInt
          if (linksProduct(j)) Some((fps(j % 30)._1, a._1, "CONTAINS_NUTRIENT")) else None
        }
      ((stations ++ days ++ pas ++ fps ++ ancs).toDF("id", "label", "props"),
        edges.toDF("src", "dst", "rel").withColumn("props", lit(null).cast("map<string,string>")))
    }
  }
}
