package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Boilerplate, GraphOps, Linkage, Scd, TimeSeries, Upsert}

/** Batch-16 operators: boilerplate removal, SCD2, islands, label
  * propagation — semantics pinned on hand-built toys where the right
  * answer is checkable by eye.
  */
class CurationOps2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Boilerplate ----

  private val docs = Seq(
    (1L, "cookie banner real content one"),
    (2L, "cookie banner real content two"),
    (3L, "cookie banner something else entirely"),
    (4L, "unique page with original words here")
  ).toDF("doc_id", "text")

  test("boilerplate: high-df line removed everywhere, order preserved") {
    // 2-word lines; "cookie banner" appears in docs 1-3 → df 3
    val out = Boilerplate.removeFrequentLines(docs, col("doc_id"), col("text"),
      lineWords = 2, dfThreshold = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == (3L, 2L, 1L, "real content one"))
    assert(out(2L) == (3L, 2L, 1L, "real content two"))
    assert(out(3L) == (3L, 2L, 1L, "something else entirely"))
    assert(out(4L) == (3L, 3L, 0L, "unique page with original words here"))
  }

  test("boilerplate: doc reduced to empty string survives with counts") {
    val only = Seq((1L, "cookie banner"), (2L, "cookie banner"),
      (3L, "cookie banner")).toDF("doc_id", "text")
    val out = Boilerplate.removeFrequentLines(only, col("doc_id"), col("text"),
      lineWords = 2, dfThreshold = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(out.length == 3)
    assert(out.forall { case (_, kept, txt) => kept == 0L && txt == "" })
  }

  test("boilerplate: within-doc repetition counts once toward df") {
    val rep = Seq((1L, "spam spam spam spam"), (2L, "fresh words only here"))
      .toDF("doc_id", "text")
    val df = Boilerplate.lineDf(
      Boilerplate.segmentLines(rep, col("doc_id"), col("text"), 2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("spam spam") == 1L) // two occurrences in doc 1, one doc
    assert(df("fresh words") == 1L)
  }

  test("boilerplate: last short line kept as its own segment") {
    val odd = Seq((1L, "a b c")).toDF("doc_id", "text")
    val segs = Boilerplate.segmentLines(odd, col("doc_id"), col("text"), 2)
      .orderBy("pos").collect().map(r => (r.getInt(1), r.getString(2)))
    assert(segs.toSeq == Seq((0, "a b"), (1, "c")))
  }

  // ---- SCD Type-2 ----

  test("scd2: collapses no-op updates, closes intervals, flags current") {
    val feed = Seq(
      (1L, 10L, "bronze", 100L), (1L, 20L, "bronze", 101L), // no-op update
      (1L, 30L, "silver", 102L), (1L, 40L, "gold", 103L),
      (2L, 15L, "gold", 200L)
    ).toDF("user_id", "ts", "tier", "event_id")
    val h = Scd.type2(feed, col("user_id"), col("tier"), col("ts"),
      Seq(col("ts"), col("event_id")))
      .orderBy("key", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
    assert(h.toSeq == Seq(
      (1L, "bronze", 10L, Some(30L), false),
      (1L, "silver", 30L, Some(40L), false),
      (1L, "gold", 40L, None, true),
      (2L, "gold", 15L, None, true)))
  }

  test("scd2: value returning to an earlier state opens a NEW interval") {
    val feed = Seq((1L, 10L, "on", 1L), (1L, 20L, "off", 2L), (1L, 30L, "on", 3L))
      .toDF("k", "ts", "v", "id")
    val h = Scd.type2(feed, col("k"), col("v"), col("ts"),
      Seq(col("ts"), col("id")))
      .orderBy("valid_from").collect().map(_.getString(1))
    assert(h.toSeq == Seq("on", "off", "on"))
  }

  // ---- Gaps and islands ----

  test("islands: consecutive days collapse, gaps split") {
    val d = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"),
      (2L, "2024-02-10")
    ).toDF("user_id", "s").select(col("user_id"), to_date(col("s")).as("day"))
    val isl = TimeSeries.islands(d, "user_id", "day")
      .orderBy("user_id", "start_day")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getDate(2).toString, r.getLong(3)))
    assert(isl.toSeq == Seq(
      (1L, "2024-01-01", "2024-01-03", 3L),
      (1L, "2024-01-05", "2024-01-05", 1L),
      (2L, "2024-02-10", "2024-02-10", 1L)))
  }

  // ---- CDC apply ----

  private val cdcBase = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    .toDF("k", "v")

  test("cdc apply: latest op per key wins — update, delete, insert, untouched") {
    val feed = Seq(
      (1L, 1, "U", "a2"), (1L, 2, "U", "a3"),   // two updates → a3
      (2L, 1, "D", "x"),                          // delete key 2
      (9L, 1, "U", "new")                         // insert unseen key
    ).toDF("k", "seq", "op", "v")
    val out = Upsert.applyCdc(cdcBase, feed, Seq("k"), "op", Seq("seq"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a3", 3L -> "c", 9L -> "new"))
  }

  test("cdc apply: resolves by sequence order, not arrival order; idempotent") {
    // delete arrives first in the frame but carries the LATER seq
    val feed = Seq((1L, 5, "D", "zzz"), (1L, 1, "U", "early"))
      .toDF("k", "seq", "op", "v")
    val once = Upsert.applyCdc(cdcBase, feed, Seq("k"), "op", Seq("seq"))
    assert(once.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    val twice = Upsert.applyCdc(once, feed, Seq("k"), "op", Seq("seq"))
    assert(twice.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("scd2 intervals partition time: interval lookup == last-change-before") {
    val feed = Seq(
      (1L, 10L, "bronze", 1L), (1L, 30L, "silver", 2L), (1L, 50L, "gold", 3L),
      (2L, 20L, "gold", 4L), (2L, 40L, "bronze", 5L)
    ).toDF("u", "ts", "tier", "id")
    val hist = Scd.type2(feed, col("u"), col("tier"), col("ts"),
      Seq(col("ts"), col("id")))
    val probes = Seq((1L, 10L), (1L, 29L), (1L, 30L), (1L, 49L), (1L, 99L),
      (2L, 25L), (2L, 40L)).toDF("u", "t")
    // (a) interval join on the SCD2 output
    val viaInterval = probes.join(hist,
        probes("u") === hist("key") && col("valid_from") <= col("t") &&
          (col("valid_to").isNull || col("t") < col("valid_to")))
      .select(col("u"), col("t"), col("value"))
    // (b) as-of semantics straight off the feed: latest change <= t
    val viaAsof = probes.join(feed, probes("u") === feed("u") && col("ts") <= col("t"))
      .groupBy(probes("u").as("u"), col("t"))
      .agg(max_by(col("tier"), struct(col("ts"), col("id"))).as("value"))
    val a = viaInterval.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val b = viaAsof.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(a == b && a.size == probes.count())
  }

  // ---- Record linkage ----

  test("linkage: weights sum per field; threshold splits match band") {
    val left = Seq((1L, "ann smith", "A", 10.0), (2L, "bob jones", "B", 20.0))
      .toDF("lid", "lname", "lseg", "lbal")
    val right = Seq(
      (101L, "ann smyth", "A", 10.5),  // name lev 1 agree, seg agree, bal agree
      (102L, "ann smith", "C", 99.0),  // name agree only
      (103L, "zzz zzzzz", "A", 10.0)   // name disagree
    ).toDF("rid", "rname", "rseg", "rbal")
    val fields = Seq(
      Linkage.Field(levenshtein(col("lname"), col("rname")) <= 1, 30, -10),
      Linkage.Field(col("lseg") === col("rseg"), 10, -15),
      Linkage.Field(abs(col("lbal") - col("rbal")) <= 1.0, 15, -5))
    // block: all rows share one block key here
    val scored = Linkage.linkScored(
      left.withColumn("bk", lit(1)), right.withColumn("bk2", lit(1)),
      Seq("bk" -> "bk2"), fields, threshold = 35)
      .select("lid", "rid", "link_score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (1,101): 30+10+15 = 55; (1,102): 30-15-5 = 10 (below); (1,103): -10+10+15 = 15
    // (2,101..103): name disagree → max -10+? never reaches 35
    assert(scored == Set((1L, 101L, 55L)))
  }

  test("linkage: blocking restricts candidate pairs to equal keys") {
    val l = Seq((1L, "x", "b1"), (2L, "x", "b2")).toDF("lid", "ln", "lb")
    val r = Seq((9L, "x", "b1")).toDF("rid", "rn", "rb")
    val out = Linkage.linkScored(l, r, Seq("lb" -> "rb"),
      Seq(Linkage.Field(col("ln") === col("rn"), 10, -10)), threshold = 0)
      .select("lid").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L)) // lid 2 is in a different block, never scored
  }

  // ---- Label propagation ----

  test("label prop: mode vote wins over min, ties break to smallest label") {
    // vertex 9 has neighbors {5, 5, 7} by multi-edge → mode label 5
    // round 1: everyone adopts neighbor mode
    val e = Seq((5L, 9L), (5L, 9L), (7L, 9L)).toDF("src", "dst")
    val l1 = GraphOps.labelPropagation(e, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1(9L) == 5L) // mode of {5,5,7}
    assert(l1(5L) == 9L) // only neighbor
    assert(l1(7L) == 9L)
  }

  test("label prop on a multigraph: every edge row votes, null ends name no vertex") {
    // neighbours with multiplicity: 1 → [2, 2, 3], 2 → [1, 1, 4],
    // 3 → [1, 3, 3, 5] (the self-loop votes twice), 4 → [2, 5],
    // 5 → [4, 3]; the two null-end edges vote for nobody
    val e = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), (Some(1L), Some(3L)), (Some(3L), Some(3L)),
      (Some(2L), Some(4L)), (Some(5L), Some(4L)), (Some(5L), Some(3L)),
      (Some(4L), None), (None, Some(3L))
    ).toDF("src", "dst")
    def labels(iterations: Int): Map[Long, Long] = {
      val rows = GraphOps.labelPropagation(e, iterations).collect()
      assert(rows.forall(!_.isNullAt(0)), "a null-end edge must not yield a null-id row")
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // round 1: 1 {2:2, 3:1} → 2; 2 {1:2, 4:1} → 1; 3 {1:1, 3:2, 5:1} → 3;
    // 4 {2:1, 5:1} → 2 and 5 {4:1, 3:1} → 3 on the smaller label
    assert(labels(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 3L, 4L -> 2L, 5L -> 3L))
    // round 2: 1 {1:2, 3:1} → 1; 2 {2:3} → 2; 3 {2:1, 3:3} → 3;
    // 4 {1:1, 3:1} → 1; 5 {2:1, 3:1} → 2
    assert(labels(2) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L, 5L -> 2L))
  }

  test("label prop differs from CC: dense community keeps its own label") {
    // two triangles joined by one bridge edge — CC merges them to one
    // component; 2-round LPA keeps two communities
    val tri1 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val tri2 = Seq((11L, 12L), (12L, 13L), (11L, 13L))
    val e = (tri1 ++ tri2 :+ (3L -> 11L)).toDF("src", "dst")
    val lp = GraphOps.labelPropagation(e, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = GraphOps.connectedComponents(e, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet.size == 1)
    assert(Set(lp(1L), lp(2L)) != Set(lp(12L), lp(13L)))
  }
}
