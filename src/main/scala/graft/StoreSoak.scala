package graft

import graft.cypher.{GraphStore, PropertyGraph}

/** Statement-volume soak for the Cypher WRITE surface (round-12
  * verdict item 5): replay the reference's WeatherDay projector SHAPE
  * — per (station, day) a station MERGE, a day MERGE with SET, and a
  * relationship MERGE (graph_weather_day.py:230-257 sends exactly
  * this trio per row) — row-at-a-time through one [[GraphStore]], at
  * ≥1k statements, and PROVE wall time linear in statement count.
  *
  * Why this exists: GraphStore replay was super-linear until the
  * round-11 compaction-cadence fix (each statement stacks one
  * broadcast probe + union on the standing frames; past a handful of
  * layers, per-statement analysis/codegen grows with stack depth —
  * compacting every 8 statements resets it). The fix was reactive;
  * this soak is the measurement that justifies the cadence constant:
  * cumulative wall is recorded at 1/4, 1/2 and full volume, and the
  * full/half ratio must sit near 2.0 (linear), nowhere near the 4.0
  * of a quadratic replay.
  *
  * The soak also replays the identical station-day payload as the
  * reference's BATCHED `UNWIND $rows AS row MERGE …` idiom (three
  * statements total) — the scale path — and reports the ratio, then
  * asserts both stores converge to the same graph (same vertex/edge
  * counts and tag checksum): row-at-a-time and batched are the same
  * semantics at very different constant factors.
  *
  * Round 13 adds the OTHER scale axis: store SIZE. The round-12 soak
  * proved linearity in statement COUNT on a near-empty standing
  * graph; the 100-TB question is per-statement cost as the standing
  * graph GROWS. A third argument pre-seeds the store with N synthetic
  * vertices + N edges (localCheckpoint'd OUTSIDE the timed region, so
  * the windows measure the write path only) and the same replay runs
  * against the big store. The write apply is broadcast-probe-only —
  * the standing table is scanned (in parallel), never shuffled, and
  * the delta side is param-sized — so per-statement cost must stay
  * near-flat in store size; the seeded run vs the empty run is the
  * measurement that proves it (recorded in SCALE.md).
  *
  * Usage: `runMain graft.StoreSoak [days] [stations] [seedRows]`
  * (defaults 90 × 4 = 1080 statements, seedRows=0). Prints one
  * summary line per checkpoint plus the final linearity verdict, and
  * last the final `GraphStore.stats` of both stores (regime, folds,
  * last fold ms, key-index entries, overlay rows, LSM levels);
  * numbers are recorded in SCALE.md.
  */
object StoreSoak {
  def main(args: Array[String]): Unit = {
    val days = if (args.length > 0) args(0).toInt else 90
    val stations = if (args.length > 1) args(1).toInt else 4
    val seedRows = if (args.length > 2) args(2).toLong else 0L
    val spark = GraftSession.harness()
    import spark.implicits._

    import org.apache.spark.sql.functions._

    // optional standing-graph seed: a ring of `seedRows` Seed vertices
    // + edges in the store's structured layout, materialized eagerly
    // (localCheckpoint) before any window opens — the soak then
    // measures the write path against a BIG standing graph, not the
    // seed build
    val seed: Option[PropertyGraph] =
      if (seedRows <= 0) None
      else Some {
        val v = spark.range(seedRows).select(
          concat_ws(":", lit("Seed"), col("id")).as("id"),
          lit("Seed").as("label"),
          map(lit("k"), col("id").cast("string")).as("props"))
          .localCheckpoint(true)
        val e = spark.range(seedRows).select(
          concat_ws(":", lit("Seed"), col("id")).as("src"),
          concat_ws(":", lit("Seed"), (col("id") + 1) % seedRows).as("dst"),
          lit("SEED_NEXT").as("rel"),
          lit(null).cast("map<string,string>").as("props"))
          .localCheckpoint(true)
        System.err.println(
          s"[soak] seeded standing graph: ${v.count()} vertices, " +
          s"${e.count()} edges")
        PropertyGraph(v, e)
      }

    def emptyStore(): GraphStore = {
      val v = Seq.empty[(String, String, Map[String, String])]
        .toDF("id", "label", "props")
      val e = Seq.empty[(String, String, String, Map[String, String])]
        .toDF("src", "dst", "rel", "props")
      val initial = seed.getOrElse(PropertyGraph(v, e))
      // GRAFT_SOAK_OVERLAY_ROWS sets the BUCKETED overlay's overflow
      // budget, so on a bucketed store the OVERFLOW path (round 15:
      // LSM level promotion, then a full fold when MaxLevels stack)
      // fires on soak-sized replays — the seeded leveled-fold
      // measurement (SCALE.md round-15). An unbucketed store folds
      // per write whatever its value.
      val ovBudget = GraftSession.knob("GRAFT_SOAK_OVERLAY_ROWS",
        sys.env.get("GRAFT_SOAK_OVERLAY_ROWS"), GraphStore.OverlayFoldRows, min = 0)
      new GraphStore(initial,
        Map("Station" -> Seq("sid"), "WeatherDay" -> Seq("sid", "date")),
        overlayFoldRows = ovBudget)
    }

    final case class Row3(sid: Int, date: String, tmin: Int, tmax: Int)
    val rows = for {
      s <- 0 until stations
      d <- 0 until days
    } yield Row3(s, f"2025-${1 + d / 28}%02d-${1 + d % 28}%02d",
      -5 + (s * 7 + d) % 20, 5 + (s * 11 + d) % 25)

    // ---- row-at-a-time: the reference's literal client model -------
    val store = emptyStore()
    // one warm statement so the first checkpoint doesn't absorb
    // session/codegen warmup
    store.execute("MERGE (s:Station {sid: -1})")
    val marks = Seq(rows.length / 4, rows.length / 2, rows.length)
    val gcEvery = GraftSession.knob("SPARK_GRAFT_SOAK_GC",
      sys.env.get("SPARK_GRAFT_SOAK_GC"), default = 64, min = 0)
    val t0 = System.nanoTime()
    var tWin = t0
    val times = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    rows.zipWithIndex.foreach { case (r, i) =>
      store.execute("MERGE (s:Station {sid: $sid}) SET s.name = $name",
        Map("sid" -> r.sid, "name" -> s"station-${r.sid}"))
      store.execute(
        """MERGE (d:WeatherDay {sid: $sid, date: $date})
           SET d.tmin = $tmin, d.tmax = $tmax""",
        Map("sid" -> r.sid, "date" -> r.date,
          "tmin" -> r.tmin, "tmax" -> r.tmax))
      store.execute(
        """MATCH (s:Station {sid: $sid})
           MATCH (d:WeatherDay {sid: $sid, date: $date})
           MERGE (s)-[:HAS_DAY]->(d)""",
        Map("sid" -> r.sid, "date" -> r.date))
      // the Bench loop's documented driver-side cleaner discipline:
      // checkpoint blocks and broadcasts are reclaimed by
      // ContextCleaner only after a driver GC notices the dead
      // references — a long replay never triggers one on its own
      if (gcEvery > 0 && (i + 1) % gcEvery == 0) System.gc()
      if ((i + 1) % 10 == 0) {
        val now = System.nanoTime()
        println(f"[soak-window] ${3 * (i + 1)}%5d statements: " +
          f"${(now - tWin) / 1e9 / 30}%6.3f s/stmt this window, " +
          f"${(now - t0) / 1e9}%8.1f s cumulative, " +
          s"rdds=${spark.sparkContext.getPersistentRDDs.size}")
        Console.out.flush()
        tWin = now
      }
      if (marks.contains(i + 1)) {
        val dt = (System.nanoTime() - t0) / 1e9
        times(3 * (i + 1)) = dt
        println(f"[soak] ${3 * (i + 1)}%5d statements: $dt%8.1f s cumulative")
      }
    }
    val stmts = times.keys.toSeq
    val fullOverHalf = times(stmts(2)) / times(stmts(1))
    val halfOverQuarter = times(stmts(1)) / times(stmts(0))
    println(f"[soak] full/half ratio = $fullOverHalf%.2f " +
      f"(linear=2.0, quadratic=4.0); half/quarter = $halfOverQuarter%.2f")
    require(fullOverHalf < 2.6,
      f"row-at-a-time replay is super-linear: full/half = $fullOverHalf%.2f")

    // ---- batched UNWIND: the scale path, same payload ---------------
    val batched = emptyStore()
    val tb = System.nanoTime()
    batched.execute(
      "UNWIND $rows AS row MERGE (s:Station {sid: row.sid}) SET s.name = row.name",
      Map("rows" -> rows.map(r => Map[String, Any](
        "sid" -> r.sid, "name" -> s"station-${r.sid}"))))
    batched.execute(
      """UNWIND $rows AS row
         MERGE (d:WeatherDay {sid: row.sid, date: row.date})
         SET d.tmin = row.tmin, d.tmax = row.tmax""",
      Map("rows" -> rows.map(r => Map[String, Any]("sid" -> r.sid,
        "date" -> r.date, "tmin" -> r.tmin, "tmax" -> r.tmax))))
    batched.execute(
      """UNWIND $rows AS row
         MERGE (s:Station {sid: row.sid})-[:HAS_DAY]->(d:WeatherDay {sid: row.sid, date: row.date})""",
      Map("rows" -> rows.map(r => Map[String, Any](
        "sid" -> r.sid, "date" -> r.date))))
    val dtb = (System.nanoTime() - tb) / 1e9
    println(f"[soak] batched UNWIND (3 statements): $dtb%.1f s " +
      f"(row-at-a-time/batched = ${times(stmts(2)) / dtb}%.0fx)")

    // ---- convergence: both replay modes land the same graph ---------
    def sig(s: GraphStore): (Long, Long) = {
      val g = s.graph
      (g.vertices.filter(org.apache.spark.sql.functions.col("id") =!=
        "Station:-1").count(), g.edges.count())
    }
    val (vA, eA) = sig(store)
    val (vB, eB) = sig(batched)
    require(vA == vB && eA == eB,
      s"replay modes diverge: row-at-a-time ($vA, $eA) vs batched ($vB, $eB)")
    println(s"[soak] converged: $vA vertices, $eA edges both modes")
    // which regime and index size the soak's figures measured
    def profile(s: GraphStore): String = {
      val st = s.stats
      f"${if (st.bucketed) "bucketed" else "unbucketed"}, ${st.rows} rows, " +
        f"${st.folds} folds (last ${st.lastFoldMs}%.1f ms), " +
        s"${st.indexEntries} index entries, ${st.overlayRows} overlay rows, " +
        s"${st.levels} levels"
    }
    println(s"[soak] store: row-at-a-time ${profile(store)}; " +
      s"batched ${profile(batched)}")
    spark.stop()
  }
}
