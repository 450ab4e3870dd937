package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.{CypherParser, CypherWrite, GraphStore, PropertyGraph}

/** Semantics of the Cypher WRITE subset (graft.cypher.CypherWrite +
  * GraphStore): the reference's projector statement shapes executed
  * set-wise, with MERGE idempotence (fixpoint on re-run) as the
  * core invariant — the reference's own guarantee.
  */
class CypherWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emptyStore(keys: Map[String, Seq[String]] = Map(
      "Person" -> Seq("pid"), "City" -> Seq("name"))): GraphStore =
    new GraphStore(emptyGraph(), keys)

  private def propsOf(s: GraphStore, id: String): Map[String, String] = {
    val rows = s.graph.vertices.filter(col("id") === id).collect()
    assert(rows.length == 1, s"expected exactly one $id")
    Option(rows.head.getMap[String, String](2)).map(_.toMap)
      .getOrElse(Map.empty)
  }

  test("MERGE creates, then matches: fixpoint with SET update") {
    val s = emptyStore()
    val st1 = s.execute(
      "MERGE (p:Person {pid: $id}) SET p.name = $name, p.age = $age",
      Map("id" -> 7, "name" -> "ann", "age" -> 30))
    assert((st1.nodesCreated, st1.nodesMatched) == (1L, 0L))
    assert(propsOf(s, "Person:7") ==
      Map("pid" -> "7", "name" -> "ann", "age" -> "30"))
    // re-run with a changed prop: matched, props updated, no new node
    val st2 = s.execute(
      "MERGE (p:Person {pid: $id}) SET p.name = $name, p.age = $age",
      Map("id" -> 7, "name" -> "ann", "age" -> 31))
    assert((st2.nodesCreated, st2.nodesMatched) == (0L, 1L))
    assert(propsOf(s, "Person:7") ==
      Map("pid" -> "7", "name" -> "ann", "age" -> "31"))
    assert(s.graph.vertices.count() == 1)
    // exact re-run is a fixpoint
    val before = s.graph.vertices.collect().toSeq
    s.execute(
      "MERGE (p:Person {pid: $id}) SET p.name = $name, p.age = $age",
      Map("id" -> 7, "name" -> "ann", "age" -> 31))
    assert(s.graph.vertices.collect().toSeq == before)
  }

  test("ON CREATE SET vs ON MATCH SET branch correctly") {
    val s = emptyStore()
    val stmt =
      """MERGE (p:Person {pid: $id})
         ON CREATE SET p.made = 'yes', p.touched = '0'
         ON MATCH SET p.touched = '1'"""
    s.execute(stmt, Map("id" -> 1))
    assert(propsOf(s, "Person:1") ==
      Map("pid" -> "1", "made" -> "yes", "touched" -> "0"))
    s.execute(stmt, Map("id" -> 1))
    assert(propsOf(s, "Person:1") ==
      Map("pid" -> "1", "made" -> "yes", "touched" -> "1"))
  }

  test("SET x = null removes the key; += map-add upserts") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1}) SET p.a = 'x', p.b = 'y'")
    s.execute("MERGE (p:Person {pid: 1}) SET p.a = null")
    assert(propsOf(s, "Person:1") == Map("pid" -> "1", "b" -> "y"))
    // the reference's WeatherForecast idiom: SET wf += $props
    s.execute("MERGE (p:Person {pid: 1}) SET p += $m",
      Map("m" -> Map("b" -> "z", "c" -> 9)))
    assert(propsOf(s, "Person:1") ==
      Map("pid" -> "1", "b" -> "z", "c" -> "9"))
  }

  test("MATCH ... SET updates without creating") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1}) SET p.seg = 'a', p.v = '1'")
    s.execute("MERGE (p:Person {pid: 2}) SET p.seg = 'b', p.v = '1'")
    val st = s.execute(
      "MATCH (p:Person) WHERE p.seg = 'a' SET p.v = '2'")
    assert((st.nodesCreated, st.nodesMatched) == (0L, 1L))
    assert(propsOf(s, "Person:1")("v") == "2")
    assert(propsOf(s, "Person:2")("v") == "1")
  }

  test("MATCH, MATCH ... MERGE relationship: created once, fixpoint") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1})")
    s.execute("MERGE (c:City {name: 'oslo'})")
    val stmt =
      """MATCH (p:Person {pid: 1})
         MATCH (c:City {name: 'oslo'})
         MERGE (p)-[:LIVES_IN]->(c)"""
    val st1 = s.execute(stmt)
    assert((st1.relsCreated, st1.relsMatched) == (1L, 0L))
    val st2 = s.execute(stmt)
    assert((st2.relsCreated, st2.relsMatched) == (0L, 1L))
    val edges = s.graph.edges.collect()
    assert(edges.length == 1)
    assert((edges.head.getString(0), edges.head.getString(1),
      edges.head.getString(2)) == ("Person:1", "City:oslo", "LIVES_IN"))
    // and the read compiler sees it
    val read = s.cypher(
      """MATCH (p:Person)-[:LIVES_IN]->(c:City)
         RETURN id(p) AS p, c.name AS city""")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(read.toSeq == Seq(("Person:1", "oslo")))
  }

  test("UNWIND $rows batch MERGE (the reference's batcher idiom)") {
    val s = emptyStore()
    val rows = Seq(
      Map("pid" -> 1, "name" -> "ann"),
      Map("pid" -> 2, "name" -> "bob"),
      Map("pid" -> 3, "name" -> "cat"))
    val st = s.execute(
      """UNWIND $rows AS row
         MERGE (p:Person {pid: row.pid})
         SET p.name = row.name""",
      Map("rows" -> rows))
    assert((st.nodesCreated, st.nodesMatched) == (3L, 0L))
    // replay with one change and one addition: 1 created, 3 matched
    val st2 = s.execute(
      """UNWIND $rows AS row
         MERGE (p:Person {pid: row.pid})
         SET p.name = row.name""",
      Map("rows" -> (rows.map(_.updated("name", "upd")) :+
        Map[String, Any]("pid" -> 4, "name" -> "dan"))))
    assert((st2.nodesCreated, st2.nodesMatched) == (1L, 3L))
    assert(propsOf(s, "Person:2") == Map("pid" -> "2", "name" -> "upd"))
    assert(s.graph.vertices.count() == 4)
  }

  test("CREATE inserts; duplicate CREATE under a key fails loudly") {
    val s = emptyStore()
    s.execute("CREATE (p:Person {pid: 1, name: 'ann'})")
    assert(propsOf(s, "Person:1") == Map("pid" -> "1", "name" -> "ann"))
    val e = intercept[IllegalStateException](
      s.execute("CREATE (p:Person {pid: 1, name: 'dup'})"))
    assert(e.getMessage.contains("uniqueness"))
    // CREATE with an inline relationship creates nodes + edge
    s.execute(
      "CREATE (a:Person {pid: 8})-[:KNOWS {since: '2020'}]->(b:Person {pid: 9})")
    assert(s.graph.vertices.count() == 3)
    val ed = s.graph.edges.collect().head
    assert((ed.getString(0), ed.getString(1), ed.getString(2)) ==
      ("Person:8", "Person:9", "KNOWS"))
    assert(ed.getMap[String, String](3).toMap == Map("since" -> "2020"))
  }

  test("MERGE without its declared key props is rejected") {
    val s = emptyStore()
    val e = intercept[IllegalArgumentException](
      s.execute("MERGE (p:Person {name: 'ann'})"))
    assert(e.getMessage.contains("key props"))
    val e2 = intercept[IllegalArgumentException](
      s.execute("MERGE (p {pid: 1})")) // no label
    assert(e2.getMessage.contains("label"))
  }

  test("undeclared label: identity from sorted pattern prop names") {
    val s = emptyStore(keys = Map.empty)
    s.execute("MERGE (x:Thing {b: '2', a: '1'})")
    s.execute("MERGE (x:Thing {a: '1', b: '2'}) SET x.seen = 'y'")
    val ids = s.graph.vertices.collect().map(_.getString(0))
    assert(ids.toSeq == Seq("Thing:1:2")) // sorted prop-name order: a, b
    assert(propsOf(s, "Thing:1:2") ==
      Map("a" -> "1", "b" -> "2", "seen" -> "y"))
  }

  test("null key props fail loudly; variables named like keywords read") {
    val s = emptyStore()
    val e = intercept[Exception](
      s.execute("MERGE (p:Person {pid: $id}) SET p.x = '1'",
        Map("id" -> null)))
    assert(String.valueOf(e.getMessage).contains("null key prop") ||
           Option(e.getCause).exists(
             c => String.valueOf(c.getMessage).contains("null key prop")),
      s"unexpected: $e")
    // a variable named `set`/`create` inside a pattern is a READ
    assert(CypherParser.parseAny("MATCH (set) RETURN id(set) AS i").isRight)
    assert(CypherParser.parseAny(
      "MATCH (a)-[create:R]->(b) RETURN type(create) AS t").isRight)
  }

  test("parseAny routes reads vs writes; prop keys named 'set' survive") {
    assert(CypherParser.parseAny("MATCH (a) RETURN id(a) AS i").isRight)
    assert(CypherParser.parseAny("MERGE (a:L {k: 1})").isLeft)
    assert(CypherParser.parseAny(
      "MATCH (a) MERGE (a)-[:R]->(a)").isLeft)
    assert(CypherParser.parseAny(
      "MATCH (a) WHERE a.set = '1' RETURN a.create AS c").isRight)
    assert(CypherParser.parseAny(
      "MATCH (a:Person) SET a.x = '1'").isLeft)
  }

  test("RETURN after same-statement DELETE yields null props (documented " +
       "deviation: Neo4j raises on deleted-entity property access)") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1}) SET p.name = 'ann'")
    val (st, rows) = s.executeReturning(
      "MATCH (p:Person {pid: 1}) DELETE p RETURN p.name AS n, id(p) AS i")
    assert(st.nodesDeleted == 1L)
    val r = rows.get.collect()
    assert(r.length == 1)
    // the bound row survives; its post-apply lookup finds nothing
    assert(r.head.isNullAt(r.head.fieldIndex("n")))
    assert(s.graph.vertices.count() == 0)
  }

  test("parseAny: write keywords as aliases/identifiers stay READ (r14)") {
    // `AS <kw>` is alias position, never a clause
    assert(CypherParser.parseAny(
      "MATCH (n) WITH n.a AS delete WHERE delete = '1' RETURN delete")
      .isRight)
    assert(CypherParser.parseAny(
      "UNWIND [1, 2] AS merge RETURN merge").isRight)
    assert(CypherParser.parseAny(
      "MATCH (n) WITH n.a AS create RETURN create AS c").isRight)
    // a keyword-named variable in a predicate position the shape
    // tests miss falls back through the read grammar
    assert(CypherParser.parseAny(
      "MATCH (delete) WHERE delete.x IS NULL RETURN id(delete) AS i")
      .isRight)
    // …and genuinely malformed writes still surface the WRITE error
    val e = intercept[IllegalArgumentException](
      CypherParser.parseAny("MERGE (n:X {k: )"))
    assert(e.getMessage.contains("parse error"))
  }

  private def epropsOf(s: GraphStore, src: String, dst: String,
                       rel: String): Map[String, String] = {
    val rows = s.graph.edges.filter(col("src") === src &&
      col("dst") === dst && col("rel") === rel).collect()
    assert(rows.length == 1, s"expected exactly one ($src)-[$rel]->($dst)")
    Option(rows.head.getMap[String, String](3)).map(_.toMap)
      .getOrElse(Map.empty)
  }

  test("relationship properties: pattern props, ON CREATE/MATCH, SET r.x") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1})")
    s.execute("MERGE (c:City {name: 'oslo'})")
    // pattern props are SET-ON-CREATE on the (src,dst,rel) identity
    val st1 = s.execute(
      """MATCH (p:Person), (c:City)
         MERGE (p)-[r:LIVES_IN {since: '2020'}]->(c)
         ON CREATE SET r.made = 'yes'""")
    assert((st1.relsCreated, st1.relsMatched) == (1L, 0L))
    assert(epropsOf(s, "Person:1", "City:oslo", "LIVES_IN") ==
      Map("since" -> "2020", "made" -> "yes"))
    // matched: pattern props NOT re-applied (documented contract),
    // ON MATCH fires, trailing plain SET folds in as `always`
    val st2 = s.execute(
      """MATCH (p:Person), (c:City)
         MERGE (p)-[r:LIVES_IN {since: '1999'}]->(c)
         ON MATCH SET r.upd = '1'
         SET r.seen = 'y'""")
    assert((st2.relsCreated, st2.relsMatched) == (0L, 1L))
    assert(epropsOf(s, "Person:1", "City:oslo", "LIVES_IN") ==
      Map("since" -> "2020", "made" -> "yes", "upd" -> "1", "seen" -> "y"))
    // SET on a MATCH-bound relationship variable; null removes a key
    s.execute(
      """MATCH (p:Person)-[r:LIVES_IN]->(c:City)
         SET r.since = '2021', r.made = null""")
    assert(epropsOf(s, "Person:1", "City:oslo", "LIVES_IN") ==
      Map("since" -> "2021", "upd" -> "1", "seen" -> "y"))
    // read back through the compiler: r.x projections
    val back = s.cypher(
      """MATCH (p:Person)-[r:LIVES_IN]->(c:City)
         RETURN r.since AS since, r.seen AS seen""").collect().head
    assert((back.getString(0), back.getString(1)) == ("2021", "y"))
    // the untouched-edge path: another edge keeps its props bit-exact
    s.execute("MERGE (p:Person {pid: 2})")
    s.execute(
      """MATCH (p:Person {pid: 2}), (c:City)
         MERGE (p)-[:LIVES_IN {since: '2022'}]->(c)""")
    s.execute(
      """MATCH (p:Person {pid: 1})-[r:LIVES_IN]->(c:City)
         SET r.only = 'one'""")
    assert(epropsOf(s, "Person:2", "City:oslo", "LIVES_IN") ==
      Map("since" -> "2022"))
  }

  test("rel-prop writes onto a PROPLESS edge table still raise loudly") {
    val v = Seq(("Person:1", "Person", Map("pid" -> "1")),
        ("City:oslo", "City", Map("name" -> "oslo")))
      .toDF("id", "label", "props")
    val e = Seq.empty[(String, String, String)].toDF("src", "dst", "rel")
    val s = new GraphStore(PropertyGraph(v, e),
      Map("Person" -> Seq("pid"), "City" -> Seq("name")))
    val err = intercept[IllegalArgumentException](s.execute(
      """MATCH (p:Person), (c:City)
         MERGE (p)-[r:LIVES_IN]->(c) ON CREATE SET r.x = '1'"""))
    assert(err.getMessage.contains("no props column"))
    // propless MERGE without props still works (append-only path)
    val st = s.execute(
      "MATCH (p:Person), (c:City) MERGE (p)-[:LIVES_IN]->(c)")
    assert(st.relsCreated == 1L)
  }

  test("CREATE edge paths: shared variables, inline endpoints, uniqueness") {
    // the ADVICE shape: a variable CREATEd in one path, referenced
    // bare as an edge endpoint in another path of the SAME statement
    val s = emptyStore()
    s.execute("CREATE (a:Person {pid: 1}), (a)-[:KNOWS]->(b:Person {pid: 2})")
    assert(s.graph.vertices.count() == 2)
    assert(s.graph.edges.count() == 1)
    // inline endpoints of an edge CREATE are CREATE-always-creates:
    // an existing id violates uniqueness loudly, never a silent MERGE
    val err = intercept[Exception](s.execute(
      "CREATE (x:Person {pid: 1})-[:KNOWS]->(y:Person {pid: 9})"))
    assert(String.valueOf(err.getMessage).contains("uniqueness") ||
      Option(err.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("uniqueness")), s"$err")
    // and across two CREATE clauses in one statement
    val s2 = emptyStore()
    s2.execute(
      "CREATE (a:Person {pid: 1}) CREATE (a)-[:KNOWS]->(b:Person {pid: 2})")
    assert(s2.graph.edges.count() == 1)
  }

  test("DELETE r, a in one statement: Neo4j's attached-rel idiom works") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1})")
    s.execute("MERGE (p:Person {pid: 2})")
    s.execute(
      """MATCH (a:Person {pid: 1}), (b:Person {pid: 2})
         MERGE (a)-[:KNOWS]->(b)""")
    // r covers ALL of a's relationships → plain DELETE a is legal
    val st = s.execute(
      "MATCH (a:Person {pid: 1})-[r:KNOWS]->(b) DELETE r, a")
    assert((st.nodesDeleted, st.relsDeleted) == (1L, 1L))
    assert(s.graph.vertices.count() == 1)
    assert(s.graph.edges.count() == 0)
    // but a node with an edge NOT covered by the deleted rels still
    // refuses plain DELETE
    val s3 = emptyStore()
    s3.execute("MERGE (p:Person {pid: 1})")
    s3.execute("MERGE (p:Person {pid: 2})")
    s3.execute("MERGE (p:Person {pid: 3})")
    s3.execute(
      """MATCH (a:Person {pid: 1}), (b:Person {pid: 2}) MERGE (a)-[:KNOWS]->(b)""")
    s3.execute(
      """MATCH (a:Person {pid: 3}), (b:Person {pid: 1}) MERGE (a)-[:KNOWS]->(b)""")
    val err = intercept[IllegalStateException](s3.execute(
      "MATCH (a:Person {pid: 1})-[r:KNOWS]->(b) DELETE r, a"))
    assert(err.getMessage.contains("DETACH"))
  }

  test("parseAny: clause-position RETURN decides READ") {
    // write keywords as aliases/variables in expression position no
    // longer misroute the statement to the write parser
    assert(CypherParser.parseAny(
      "MATCH (set:X) RETURN set.name AS n").isRight)
    assert(CypherParser.parseAny(
      "MATCH (n:X) RETURN n.a AS set").isRight)
    assert(CypherParser.parseAny(
      "MATCH (n:X) WHERE n.k = 'delete' RETURN n.a AS remove").isRight)
    // …while real writes still route left
    assert(CypherParser.parseAny(
      "MATCH (n:X {k: 1}) SET n.a = '1'").isLeft)
    // a write followed by RETURN routes to the WRITE parser with the
    // continuation attached (round 13)
    val w = CypherParser.parseAny("MERGE (n:X {k: 1}) RETURN n.k AS k")
    assert(w.isLeft && w.swap.toOption.get.returning.isDefined)
    // and a WITH continuation parses through the read grammar
    val w2 = CypherParser.parseAny(
      "MERGE (n:X {k: 1}) WITH n MATCH (n)-[:R]->(m) RETURN count(*) AS c")
    assert(w2.isLeft && w2.swap.toOption.get.returning.exists(
      _.segments.length == 2))
  }

  test("an EMPTY UNWIND batch is a zero-stat no-op (quiet-tick batcher)") {
    val s = emptyStore()
    val st = s.execute(
      """UNWIND $rows AS row
         MERGE (p:Person {pid: row.pid}) SET p.name = row.name""",
      Map("rows" -> Seq.empty[Map[String, Any]]))
    assert(st == CypherWrite.Stats(0, 0, 0, 0))
    assert(s.graph.vertices.count() == 0)
    // read-side UNWIND of an empty literal list keeps scalar typing:
    // comparisons against the variable still analyze, result is empty
    val v = Seq(("A:1", "A", "{}")).toDF("id", "label", "props")
    val e = Seq.empty[(String, String, String)].toDF("src", "dst", "rel")
    val g = PropertyGraph(v, e)
    assert(g.cypher(
      "UNWIND [] AS x MATCH (a:A) WHERE id(a) = x RETURN id(a) AS i")
      .count() == 0)
  }

  test("writes require the structured props layout") {
    val v = Seq(("A:1", "A", "{}")).toDF("id", "label", "props")
    val e = Seq.empty[(String, String, String)].toDF("src", "dst", "rel")
    val s = new GraphStore(PropertyGraph(v, e))
    val err = intercept[IllegalArgumentException](
      s.execute("MERGE (x:A {k: 1})"))
    assert(err.getMessage.contains("structured props"))
  }

  test("Bolt server accepts writes over TCP; read-only refuses") {
    val store = emptyStore()
    val srv = new graft.cypher.BoltQueryServer(store)
    try {
      val sess = new graft.sinks.bolt.BoltSocketSession(
        srv.host, srv.port, "graft-test", 5000)
      try {
        sess.run("MERGE (p:Person {pid: $id}) SET p.name = $n",
          Map("id" -> 5, "n" -> "eve"))
        sess.run(
          """MATCH (p:Person {pid: 5}) MERGE (c:City {name: 'rome'})
             MERGE (p)-[:LIVES_IN]->(c)""", Map.empty)
        // read back THROUGH THE SAME WIRE
        val (fields, rows) = sess.query(
          """MATCH (p:Person)-[:LIVES_IN]->(c:City)
             RETURN p.name AS name, c.name AS city""", Map.empty)
        assert(fields == Seq("name", "city"))
        assert(rows == Seq(Seq("eve", "rome")))
      } finally sess.close()
      assert(store.graph.vertices.count() == 2)
    } finally srv.close()
    // a read-only server refuses the same statement with Forbidden
    val ro = new graft.cypher.BoltQueryServer(store.graph)
    try {
      val sess = new graft.sinks.bolt.BoltSocketSession(
        ro.host, ro.port, "graft-test", 5000)
      try {
        val e = intercept[graft.sinks.bolt.BoltFailure](
          sess.run("MERGE (p:Person {pid: 6})", Map.empty))
        assert(e.code.contains("Forbidden"))
      } finally sess.close()
    } finally ro.close()
  }

  test("Bolt explicit transactions: BEGIN/COMMIT/ROLLBACK/RESET") {
    val store = emptyStore()
    val srv = new graft.cypher.BoltQueryServer(store)
    try {
      val sess = new graft.sinks.bolt.BoltSocketSession(
        srv.host, srv.port, "graft-test", 5000)
      try {
        // committed tx: both statements land atomically
        sess.begin()
        sess.run("MERGE (p:Person {pid: 1}) SET p.name = 'ann'", Map.empty)
        // the transaction reads ITS OWN writes before commit…
        val (_, inTx) = sess.query(
          "MATCH (p:Person) RETURN p.name AS n", Map.empty)
        assert(inTx == Seq(Seq("ann")))
        // …while the standing store does not see them yet
        assert(store.graph.vertices.count() == 0)
        sess.run("MERGE (c:City {name: 'rome'})", Map.empty)
        sess.commit()
        assert(store.graph.vertices.count() == 2)
        // rolled-back tx: provably discarded
        sess.begin()
        sess.run("MERGE (p:Person {pid: 99})", Map.empty)
        sess.rollback()
        assert(store.graph.vertices.count() == 2)
        val (_, after) = sess.query(
          "MATCH (p:Person) RETURN count(*) AS n", Map.empty)
        assert(after == Seq(Seq(1L)))
        // protocol errors: COMMIT with no tx fails, RESET recovers
        val e = intercept[graft.sinks.bolt.BoltFailure](sess.commit())
        assert(e.code.contains("Request.Invalid"))
        sess.reset()
        val (_, ok) = sess.query(
          "MATCH (c:City) RETURN c.name AS n", Map.empty)
        assert(ok == Seq(Seq("rome")))
        // RESET also discards an open transaction
        sess.begin()
        sess.run("MERGE (p:Person {pid: 50})", Map.empty)
        sess.reset()
        sess.run("MERGE (c:City {name: 'oslo'})", Map.empty) // auto-commit
        assert(store.graph.vertices.count() == 3) // pid:50 never landed
      } finally sess.close()
    } finally srv.close()
  }

  test("DELETE / DETACH DELETE / REMOVE: full lifecycle") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1}) SET p.a = 'x'")
    s.execute("MERGE (p:Person {pid: 2})")
    s.execute("MERGE (c:City {name: 'oslo'})")
    s.execute(
      "MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)")
    // plain DELETE on an attached node fails loudly (Neo4j semantics)
    val e = intercept[IllegalStateException](
      s.execute("MATCH (p:Person {pid: 1}) DELETE p"))
    assert(e.getMessage.contains("DETACH"))
    // unattached node deletes fine
    val st = s.execute("MATCH (p:Person {pid: 2}) DELETE p")
    assert((st.nodesDeleted, st.relsDeleted) == (1L, 0L))
    assert(s.graph.vertices.count() == 2)
    // REMOVE drops a property
    s.execute("MATCH (p:Person {pid: 1}) REMOVE p.a")
    assert(propsOf(s, "Person:1") == Map("pid" -> "1"))
    // edge-variable DELETE removes the triple, endpoints stay
    val st2 = s.execute(
      "MATCH (p:Person)-[r:LIVES_IN]->(c:City) DELETE r")
    assert((st2.nodesDeleted, st2.relsDeleted) == (0L, 1L))
    assert(s.graph.edges.count() == 0)
    assert(s.graph.vertices.count() == 2)
    // DETACH DELETE removes node + its relationships in one statement
    s.execute(
      "MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)")
    val st3 = s.execute("MATCH (p:Person {pid: 1}) DETACH DELETE p")
    assert((st3.nodesDeleted, st3.relsDeleted) == (1L, 1L))
    assert(s.graph.vertices.count() == 1) // only the City remains
    assert(s.graph.edges.count() == 0)
  }

  test("the standing graph never shuffles for a write (plan-pinned)") {
    // a MERGE's apply must be broadcast probes over the standing
    // vertex/edge tables: no SortMergeJoin, no ShuffledHashJoin, and
    // no Exchange hashing the full tables (a full-outer formulation
    // would SMJ-shuffle the 100 TB side on every statement). The
    // applies chain over a bare graph, so the frames keep the apply's
    // plan instead of a store fold's checkpoint.
    val g = applied(Seq(
      "MERGE (p:Person {pid: 1}) SET p.a = 'x'",
      "MERGE (p:Person {pid: 2})",
      """MATCH (a:Person {pid: 1}) MATCH (b:Person {pid: 2})
         MERGE (a)-[:KNOWS]->(b)""").map(q => (q, Map.empty[String, Any])),
      Map("Person" -> Seq("pid"), "City" -> Seq("name")))
    val vPlan = g.vertices.queryExecution.executedPlan.toString
    val ePlan = g.edges.queryExecution.executedPlan.toString
    assert(vPlan.contains("BroadcastHashJoin"), vPlan)
    assert(!vPlan.contains("SortMergeJoin"), vPlan)
    assert(!ePlan.contains("SortMergeJoin"), ePlan)
  }

  test("a key-bound point MATCH part crosses in as a broadcast, " +
       "never a CartesianProduct (plan-pinned)") {
    // the WeatherDay edge MERGE's prefix: two disconnected MATCH parts,
    // each one node pattern with every declared key bound to a param.
    // A few thousand standing rows are enough: Spark estimates a
    // left-outer join (the MERGE apply) as the PRODUCT of its sides,
    // the checkpoint keeps that estimate, and no MATCH part looks
    // small enough to broadcast by size.
    val filler = (1 to 5000).map(i => (s"Tag:$i", "Tag", Map("k" -> s"$i")))
      .toDF("id", "label", "props")
    val s = new GraphStore(PropertyGraph(filler, emptyGraph().edges), Map(
      "Station" -> Seq("serial_number"),
      "WeatherDay" -> Seq("station_serial", "date")))
    val day = Map[String, Any]("serial" -> "S1", "date" -> "2024-03-05")
    s.execute("MERGE (st:Station {serial_number: $serial})", day)
    s.execute(
      "MERGE (wd:WeatherDay {station_serial: $serial, date: $date})", day)
    val (st, rows) = s.executeReturning(
      """MATCH (s:Station { serial_number: $serial })
         MATCH (wd:WeatherDay { station_serial: $serial, date: $date })
         MERGE (s)-[:HAS_WEATHER_DAY]->(wd)
         RETURN wd.date AS d""", day)
    assert(st.relsCreated == 1L)
    val plan = rows.get.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(rows.get.collect().map(_.getString(0)).toSeq == Seq("2024-03-05"))
  }

  test("the reference's VERBATIM WeatherDay statements execute") {
    // the exact projector text from /root/reference/app/
    // graph_weather_day.py:230-257 (with the f-string `{base}`
    // interpolated to a concrete measurement name, as the reference
    // itself does before sending) and graph_stations.py's Station
    // MERGE — byte-for-byte what an unmodified consumer of the
    // reference would point at this engine, datetime($dt) component
    // maps included (app/utils.py:45-57; the same maps the engine's
    // own CypherSink emits)
    val s = emptyStore(keys = Map(
      "Station" -> Seq("serial_number"),
      "WeatherDay" -> Seq("station_serial", "date")))
    val dt = graft.sinks.CypherSink.datetimeParams(
      java.sql.Timestamp.valueOf("2024-03-05 00:00:00").getTime * 1000L)
    s.execute("MERGE (st:Station {serial_number: $serial}) SET st.label = $label",
      Map("serial" -> "S1", "label" -> "north field"))
    s.execute(
      "MERGE (wd:WeatherDay { station_serial: $serial, date: datetime($dt) })",
      Map("serial" -> "S1", "dt" -> dt))
    s.execute(
      """MATCH (wd:WeatherDay { station_serial: $serial, date: datetime($dt) })
         SET wd.`temp`      = $val,
             wd.`temp_min`  = $min,
             wd.`temp_max`  = $max,
             wd.`temp_avg`  = $avg,
             wd.`temp_sum`  = $sum""",
      Map("serial" -> "S1", "dt" -> dt, "val" -> 21.5, "min" -> 12.0,
        "max" -> 29.5, "avg" -> 21.5, "sum" -> 86.0))
    s.execute(
      """MATCH (s:Station { serial_number: $serial })
         MATCH (wd:WeatherDay { station_serial: $serial, date: datetime($dt) })
         MERGE (s)-[:HAS_WEATHER_DAY]->(wd)""",
      Map("serial" -> "S1", "dt" -> dt))
    // the canonical temporal render is the id AND the key prop
    assert(propsOf(s, "WeatherDay:S1:2024-03-05T00:00:00") == Map(
      "station_serial" -> "S1", "date" -> "2024-03-05T00:00:00",
      "temp" -> "21.5", "temp_min" -> "12.0", "temp_max" -> "29.5",
      "temp_avg" -> "21.5", "temp_sum" -> "86.0"))
    val read = s.cypher(
      """MATCH (st:Station)-[:HAS_WEATHER_DAY]->(wd:WeatherDay)
         RETURN id(st) AS st, wd.date AS date,
                toFloat(wd.`temp_max`) AS tmax""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(read.toSeq == Seq(("Station:S1", "2024-03-05T00:00:00", 29.5)))
    // the reference's range-MATCH idiom (range_to_neo_params,
    // utils.py:66-70): datetime() bounds in WHERE — canonical ISO
    // text compares chronologically as strings
    val dt2 = graft.sinks.CypherSink.datetimeParams(
      java.sql.Timestamp.valueOf("2024-03-09 00:00:00").getTime * 1000L)
    s.execute(
      "MERGE (wd:WeatherDay { station_serial: $serial, date: datetime($dt) })",
      Map("serial" -> "S1", "dt" -> dt2))
    val inRange = s.cypher(
      """MATCH (wd:WeatherDay)
         WHERE wd.date >= datetime($start) AND wd.date < datetime($end)
         RETURN wd.date AS d ORDER BY d""",
      Map(
        "start" -> Map("year" -> 2024, "month" -> 3, "day" -> 1),
        "end" -> Map("year" -> 2024, "month" -> 3, "day" -> 8)))
      .collect().map(_.getString(0))
    assert(inRange.toSeq == Seq("2024-03-05T00:00:00"))
    // a timezone-carrying component map renders the offset
    assert(graft.cypher.CypherCompiler.renderTemporal("datetime",
      Map("year" -> 2024, "month" -> 7, "day" -> 1, "hour" -> 9,
        "minute" -> 30, "second" -> 0, "timezone" -> "+03:00"))
      == "2024-07-01T09:30:00+03:00")
    assert(graft.cypher.CypherCompiler.renderTemporal("date",
      Map("year" -> 2024, "month" -> 7, "day" -> 1)) == "2024-07-01")
  }

  test("GraphStore.compact truncates the stacked plan, data intact") {
    val s = emptyStore()
    (1 to 5).foreach(i =>
      s.execute(s"MERGE (p:Person {pid: $i}) SET p.v = '$i'"))
    s.compact()
    assert(s.graph.vertices.count() == 5)
    assert(propsOf(s, "Person:3") == Map("pid" -> "3", "v" -> "3"))
    // writes continue after compaction
    s.execute("MERGE (p:Person {pid: 3}) SET p.v = 'x'")
    assert(propsOf(s, "Person:3") == Map("pid" -> "3", "v" -> "x"))
  }

  // ---- round 13: RETURN / WITH continuations on writes --------------

  test("MERGE … RETURN n: create and match forms read the written props") {
    val s = emptyStore()
    // MERGE-new: the returned row reads the props the statement wrote
    val (st1, rows1) = s.executeReturning(
      """MERGE (p:Person {pid: $id})
         ON CREATE SET p.made = 'yes'
         SET p.name = $name
         RETURN id(p) AS i, p.name AS name, p.made AS made""",
      Map("id" -> 7, "name" -> "ann"))
    assert((st1.nodesCreated, st1.nodesMatched) == (1L, 0L))
    val r1 = rows1.get.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2)))
    assert(r1.toSeq == Seq(("Person:7", "ann", "yes")))
    // MERGE-existing: matched, ON CREATE skipped, updated value visible
    val (st2, rows2) = s.executeReturning(
      """MERGE (p:Person {pid: $id}) SET p.name = $name
         RETURN p.name AS name, p.made AS made""",
      Map("id" -> 7, "name" -> "ANN"))
    assert((st2.nodesCreated, st2.nodesMatched) == (0L, 1L))
    assert(rows2.get.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("ANN", "yes")))
    // CREATE … RETURN
    val (st3, rows3) = s.executeReturning(
      "CREATE (c:City {name: 'oslo'}) RETURN id(c) AS i, c.name AS n")
    assert(st3.nodesCreated == 1L)
    assert(rows3.get.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("City:oslo", "oslo")))
    // batched UNWIND MERGE RETURN: one returned row per input row
    val (_, rows4) = s.executeReturning(
      """UNWIND $rows AS row
         MERGE (p:Person {pid: row.pid}) SET p.name = row.name
         RETURN p.pid AS pid, p.name AS name""",
      Map("rows" -> Seq(Map("pid" -> 1, "name" -> "bo"),
        Map("pid" -> 7, "name" -> "re-ann"))))
    assert(rows4.get.collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq(("1", "bo"), ("7", "re-ann")))
  }

  test("MERGE rel … RETURN r: written relationship props read back") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1})")
    s.execute("MERGE (c:City {name: 'oslo'})")
    val (st, rows) = s.executeReturning(
      """MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'})
         MERGE (p)-[r:LIVES_IN {since: '2020'}]->(c)
         RETURN type(r) AS t, r.since AS since, id(p) AS who""")
    assert(st.relsCreated == 1L)
    assert(rows.get.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2))).toSeq == Seq(("LIVES_IN", "2020", "Person:1")))
    // MATCH-bound edge SET + RETURN sees the post-write value
    val (_, rows2) = s.executeReturning(
      """MATCH (p:Person)-[r:LIVES_IN]->(c:City)
         SET r.since = '2021'
         RETURN r.since AS since""")
    assert(rows2.get.collect().map(_.getString(0)).toSeq == Seq("2021"))
  }

  test("write … WITH … MATCH … RETURN: read pipeline over the post-write graph") {
    val s = emptyStore()
    s.execute("MERGE (c:City {name: 'oslo'})")
    (1 to 3).foreach { i =>
      s.execute(
        s"""MATCH (c:City {name: 'oslo'}) MERGE (p:Person {pid: $i})
            MERGE (p)-[:LIVES_IN]->(c)""")
    }
    // upsert a NEW person + edge, then aggregate the post-write graph
    // in the same statement: the count must include the new edge
    val (st, rows) = s.executeReturning(
      """MATCH (c:City {name: 'oslo'})
         MERGE (p:Person {pid: 9}) SET p.name = 'new'
         MERGE (p)-[:LIVES_IN]->(c)
         WITH c
         MATCH (q:Person)-[:LIVES_IN]->(c)
         RETURN c.name AS city, count(*) AS n""")
    assert(st.nodesCreated == 1L && st.relsCreated == 1L)
    assert(rows.get.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("oslo", 4L)))
    // plain-SET statement with WITH/WHERE continuation
    val (_, rows2) = s.executeReturning(
      """MATCH (p:Person {pid: 9}) SET p.tier = 'top'
         WITH p.tier AS tier WHERE tier = 'top'
         RETURN tier""")
    assert(rows2.get.collect().map(_.getString(0)).toSeq == Seq("top"))
  }

  test("DETACH DELETE replay is a no-op (idempotence, spec-side proof)") {
    // moved out of the cy_delete oracle entry's timed body (round 13):
    // the replay is a correctness proof, not the measured operator
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1})")
    s.execute("MERGE (c:City {name: 'oslo'})")
    s.execute(
      "MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)")
    val st1 = s.execute("MATCH (p:Person {pid: 1}) DETACH DELETE p")
    assert((st1.nodesDeleted, st1.relsDeleted) == (1L, 1L))
    val st2 = s.execute("MATCH (p:Person {pid: 1}) DETACH DELETE p")
    assert((st2.nodesDeleted, st2.relsDeleted) == (0L, 0L))
    assert(s.graph.vertices.count() == 1 && s.graph.edges.count() == 0)
  }

  test("open var-length [*] / [*m..] converge past any fixed cap") {
    // a 12-hop chain: the round-12 DefaultHopCap=8 would silently
    // truncate; the converged expansion walks the full chain
    val n = 13
    val v = (0 until n).map(i => (s"N:$i", "N", Map("k" -> i.toString)))
      .toDF("id", "label", "props")
    val e = (0 until n - 1).map(i => (s"N:$i", s"N:${i + 1}", "NEXT"))
      .toDF("src", "dst", "rel")
    val g = PropertyGraph(v, e)
    val all = g.cypher(
      """MATCH (a:N {k: '0'})-[:NEXT*]->(b) RETURN count(*) AS c""")
      .collect().head.getLong(0)
    assert(all == (n - 1).toLong) // every depth 1..12 reached
    // [*m..] with m > the old cap: depths 9..12 — the round-12 parser
    // collapsed [*9..] to exactly 9 hops (advisor finding)
    val deep = g.cypher(
      """MATCH (a:N {k: '0'})-[:NEXT*9..]->(b) RETURN b.k AS k ORDER BY k""")
      .collect().map(_.getString(0))
    assert(deep.toSeq == Seq("10", "11", "12", "9"))
    // open shortestPath converges too
    val sp = g.cypher(
      """MATCH p = shortestPath((a:N {k: '0'})-[:NEXT*]->(b:N {k: '12'}))
         RETURN length(p) AS l""").collect().map(_.getLong(0))
    assert(sp.toSeq == Seq(12L))
    // an open range from a start with no outgoing edges is empty
    val none = g.cypher(
      """MATCH (a:N {k: '12'})-[:NEXT*]->(b) RETURN count(*) AS c""")
      .collect().head.getLong(0)
    assert(none == 0L)
  }

  test("read-only Bolt transaction COMMIT is a no-op (advisor fix)") {
    val store = emptyStore()
    store.execute("MERGE (p:Person {pid: 1})")
    val srv = new graft.cypher.BoltQueryServer(store)
    try {
      val a = new graft.sinks.bolt.BoltSocketSession(
        srv.host, srv.port, "graft-test", 15000)
      val b = new graft.sinks.bolt.BoltSocketSession(
        srv.host, srv.port, "graft-test", 15000)
      try {
        // a BEGINs a read-only tx; b commits a write meanwhile
        a.begin()
        val (_, r) = a.query("MATCH (p:Person) RETURN count(*) AS c",
          Map.empty)
        assert(r == Seq(Seq(1L)))
        b.run("MERGE (p:Person {pid: 2})", Map.empty)
        assert(store.graph.vertices.count() == 2)
        // COMMIT of the read-only tx must NOT revert b's write
        a.commit()
        assert(store.graph.vertices.count() == 2)
      } finally { a.close(); b.close() }
    } finally srv.close()
  }

  // the create/update/delete/DETACH/re-create sequence the fold
  // equivalence proofs replay — including deletion masks, DETACH
  // endpoint masks, and re-creation AFTER deletion (mask vs overlay
  // order)
  private val foldSeq: Seq[(String, Map[String, Any])] = Seq(
    ("MERGE (p:Person {pid: 1}) SET p.a = 'x'", Map.empty),
    ("MERGE (p:Person {pid: 2}) SET p.a = 'y'", Map.empty),
    ("MERGE (c:City {name: 'oslo'})", Map.empty),
    ("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)",
      Map.empty),
    ("MATCH (p:Person {pid: 2}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[r:LIVES_IN]->(c) SET r.since = '2020'",
      Map.empty),
    ("MATCH (p:Person {pid: 1}) SET p.a = 'z', p.b = '1'", Map.empty),
    ("MATCH (p:Person {pid: 1}) DETACH DELETE p", Map.empty),
    // re-create a DELETED id: the overlay row must win over the mask
    ("MERGE (p:Person {pid: 1}) SET p.a = 'reborn'", Map.empty),
    ("MATCH (p:Person {pid: 2})-[r:LIVES_IN]->(c) DELETE r", Map.empty),
    ("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)",
      Map.empty),
    ("MERGE (c:City {name: 'rome'}) SET c.cc = 'it'", Map.empty))
  private val foldKeys = Map("Person" -> Seq("pid"), "City" -> Seq("name"))

  private type GraphSig = (Set[(String, String, Map[String, String])],
    Set[(String, String, String)])
  private def sigOf(g: PropertyGraph): GraphSig = (
    g.vertices.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getMap[String, String](2)).map(_.toMap)
        .getOrElse(Map.empty[String, String]))).toSet,
    g.edges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)

  private def emptyGraph(): PropertyGraph = PropertyGraph(
    Seq.empty[(String, String, Map[String, String])]
      .toDF("id", "label", "props"),
    Seq.empty[(String, String, String, Map[String, String])]
      .toDF("src", "dst", "rel", "props"))

  /** Write statements chained through `CypherWrite.apply` over a
    * bare graph — no store, no fold. */
  private def applied(stmts: Seq[(String, Map[String, Any])],
                      keys: Map[String, Seq[String]]): PropertyGraph =
    stmts.foldLeft(emptyGraph()) { case (g, (q, ps)) =>
      CypherParser.parseAny(q) match {
        case Left(w) => CypherWrite(g, w, ps, keys).graph
        case Right(_) => fail(s"not a write: $q")
      }
    }

  /** The never-folded reference: [[foldSeq]] applied stacked. */
  private def stackedApply(): GraphSig = sigOf(applied(foldSeq, foldKeys))

  /** Every standing frame is a checkpoint: no stacked layer left. */
  private def assertFolded(s: GraphStore): Unit =
    Seq(s.graph.vertices, s.graph.edges)
      .map(_.queryExecution.optimizedPlan.toString)
      .foreach(p => assert(!p.contains("Join") && !p.contains("Union"), p))

  /** [[foldSeq]] through a store, plus an explicit compact() every
    * `foldEvery` statements (0 = only the store's own folds). */
  private def runStore(foldEvery: Int, bucketed: Boolean = false)
      : (GraphSig, GraphStore) = {
    val s = new GraphStore(emptyGraph(), foldKeys, forceBucketed = bucketed)
    foldSeq.zipWithIndex.foreach { case ((q, ps), i) =>
      s.execute(q, ps)
      if (foldEvery > 0 && (i + 1) % foldEvery == 0) s.compact()
    }
    (sigOf(s.graph), s)
  }

  test("overlay fold ≡ stacked apply across create/update/delete/detach") {
    // the bucketed store folds a delta-sized OVERLAY onto a pinned
    // base instead of re-materializing the standing graph.
    // Equivalence proof: the same statement sequence lands the same
    // graph as the never-folded stacked apply.
    val never = stackedApply() // pure stacked apply, no store
    // the bucket-pruned probe path (segment compaction) —
    // same sequence includes MATCH-prefix scans on declared-key
    // labels (pruned), DETACH, re-creation after deletion, edge
    // deletes — all through the pruned probes + segment window
    val bucketedNever = runStore(0, bucketed = true)._1
    val bucketedFolded = runStore(2, bucketed = true)._1
    assert(bucketedNever == never, s"bucketed store diverges:\n$bucketedNever\nvs\n$never")
    assert(bucketedFolded == never, s"bucketed fold-every-2 diverges")
    // expected end state, spelled out
    assert(never._1 == Set(
      ("Person:1", "Person", Map("pid" -> "1", "a" -> "reborn")),
      ("Person:2", "Person", Map("pid" -> "2", "a" -> "y")),
      ("City:oslo", "City", Map("name" -> "oslo")),
      ("City:rome", "City", Map("name" -> "rome", "cc" -> "it"))))
    assert(never._2 == Set(("Person:1", "City:oslo", "LIVES_IN")))
  }

  test("per-write fold ≡ stacked apply: a small store folds every write") {
    // a store within OverlayFoldRows folds after EVERY write,
    // re-checkpointing only the touched frame family
    val (perWrite, s) = runStore(0)
    val stacked = stackedApply()
    assert(perWrite == stacked, s"per-write fold diverges:\n$perWrite\nvs\n$stacked")
    assert(s.stats.folds == foldSeq.size.toLong)
    assertFolded(s)
  }

  test("after a transaction commit the next write folds the whole store") {
    // the fork's statements were not tracked, so the first write
    // after commitTx folds both frame families
    val s = new GraphStore(emptyGraph(), foldKeys)
    val half = foldSeq.size / 2
    foldSeq.take(half).foreach { case (q, ps) => s.execute(q, ps) }
    val fork = foldSeq.slice(half, foldSeq.size - 1)
      .foldLeft(s.graph) { case (g, (q, ps)) => s.executeOn(g, q, ps)._1 }
    s.commitTx(fork)
    def counted = s.graph.vertices.count() + s.graph.edges.count()
    assert(s.stats.rows == counted)
    val (q, ps) = foldSeq.last
    s.execute(q, ps) // touches vertices only: the edge fork folds too
    val folded = sigOf(s.graph)
    val stacked = stackedApply()
    assert(folded == stacked, s"post-commit fold diverges:\n$folded\nvs\n$stacked")
    assertFolded(s)
    assert(s.stats.rows == counted)
  }

  test("store stats: rows follow every statement's write stats") {
    val s = new GraphStore(emptyGraph(), foldKeys)
    foldSeq.zipWithIndex.foreach { case ((q, ps), i) =>
      s.execute(q, ps)
      val st = s.stats
      val counted = s.graph.vertices.count() + s.graph.edges.count()
      assert(st.rows == counted, s"after `$q`: stats.rows ${st.rows}, counted $counted")
      assert(!st.bucketed && st.folds == i + 1L && st.lastFoldMs >= 0.0)
      assert(st.overlayRows == 0L && st.levels == 0, st)
    }
    // the key index holds the written families (Person and City ids,
    // LIVES_IN pairs), which here are every standing row
    assert(s.stats.rows == 5L) // 4 vertices + 1 edge
    assert(s.stats.indexEntries == 5L, s.stats)
    // the bucketed store keeps the same count through pruned probes;
    // its overlay holds the rows the 8-write collapse folded and the
    // key index is empty
    val b = runStore(0, bucketed = true)._2
    assert(b.stats.bucketed && b.stats.rows == 5L)
    assert(b.stats.indexEntries == 0L && b.stats.overlayRows > 0L &&
      b.stats.levels == 0, b.stats)
    // an overlay past its budget promotes to an LSM level
    val lv = new GraphStore(emptyGraph(), foldKeys, forceBucketed = true,
      overlayFoldRows = 1L)
    foldSeq.foreach { case (q, ps) => lv.execute(q, ps) }
    assert(lv.stats.levels == 1 && lv.stats.overlayRows == 0L, lv.stats)
  }

  /** The Spark jobs `f` starts, each with its call site: the action
    * and the first graft frame of the SQL execution (or stage) that
    * ran it, as `count at graft.cypher.CypherWrite$.apply(…)`. */
  private def jobsDuring(f: => Unit)
      : Seq[(org.apache.spark.scheduler.SparkListenerJobStart, String)] = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execSite.put(x.executionId, x.details)
        case _ => ()
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    def short(details: String): String = {
      val ls = details.linesIterator.map(_.trim).toSeq
      val action = ls.headOption.map(_.takeWhile(_ != '(').split('.').last)
      s"${action.getOrElse("")} at ${ls.find(_.startsWith("graft.")).getOrElse("")}"
    }
    seen.toArray(Array.empty[SparkListenerJobStart]).toSeq.map { j =>
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      (j, short(exec.flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(j.stageInfos.headOption.map(_.details).getOrElse(""))))
    }
  }

  test("key index: point MERGE, MATCH … SET and edge MERGE run ≤ 6 jobs, " +
       "none of them a Spark existence probe") {
    val s = new GraphStore(emptyGraph(), foldKeys)
    val merge = "MERGE (p:Person {pid: $pid})"
    val set = "MATCH (p:Person {pid: $pid}) SET p.a = $a"
    val edge = "MATCH (p:Person {pid: $pid}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[:LIVES_IN]->(c)"
    def ps(i: Int) = Map[String, Any]("pid" -> i, "a" -> s"v$i")
    s.execute("MERGE (c:City {name: 'oslo'})")
    // warm: the first statement of each family builds its slice
    (1 to 2).foreach(i => Seq(merge, set, edge).foreach(s.execute(_, ps(i))))
    val atStore = ".* at graft\\.cypher\\.GraphStore.*"
    for (i <- Seq(3, 1); q <- Seq(merge, set, edge)) {
      val edgesBefore = s.graph.edges
      val jobs = jobsDuring(s.execute(q, ps(i)))
      val sites = jobs.map(_._2)
      assert(jobs.size <= 6, s"`$q` (pid $i) ran ${jobs.size} jobs: $sites")
      assert(!sites.exists(_.matches(
        "(count|localCheckpoint) at graft\\.cypher\\.CypherWrite.*")), sites)
      // pid 1 exists: the MERGE and the edge MERGE change nothing, so
      // the store folds nothing — the MERGE's one job is its delta
      // collect — and the SET folds the vertex family alone
      if (i == 1 && q == merge) {
        assert(jobs.size == 1, sites)
        assert(!sites.exists(_.startsWith("localCheckpoint")), sites)
      }
      if (i == 1 && q == edge) assert(!sites.exists(_.matches(atStore)), sites)
      if (q == set) {
        assert(sites.exists(_.matches("localCheckpoint" + atStore)), sites)
        assert(s.graph.edges eq edgesBefore)
      }
    }
    // 4 vertex ids and 3 LIVES_IN pairs
    assert(!s.stats.bucketed && s.stats.indexEntries == 7L, s.stats)
  }

  test("a MATCH-less point MERGE's delta plans no Exchange") {
    // the one-row seed frame is ONE slice, whose SinglePartition
    // satisfies the delta dedup: the statement's own work (the delta
    // collect) is one single-stage job. An Exchange would add a shuffle
    // map stage — its own job under AQE, a second stage without it
    val s = new GraphStore(emptyGraph(), foldKeys)
    s.execute("MERGE (p:Person {pid: 1})")
    val jobs = jobsDuring(s.execute("MERGE (p:Person {pid: 2})"))
    val own = jobs.filter(_._2.contains("CypherWrite.scala")).map(_._1)
    assert(own.size == 1, jobs.map(_._2))
    assert(own.head.stageInfos.size == 1, own.head.stageInfos.map(_.name))
  }

  test("key index ≡ hint-less apply: stats, rows and graphs per statement") {
    // an unbucketed store resolves existence, stats and the CREATE
    // check from its driver-side key index; the hint-less apply chain
    // (Spark probes, no store) is the reference
    val keys0 = Map("Person" -> Seq("pid"), "City" -> Seq("name"))
    // a seed row holding a null-valued prop, as GraphAssembly's map
    // props do for a null column: a matched row with empty update maps
    // is an identity, so the store may skip it and the reference apply
    // it and both keep the entry
    val seed = PropertyGraph(
      Seq(("Person:9", "Person", Map("pid" -> "9", "z" -> (null: String))))
        .toDF("id", "label", "props"),
      emptyGraph().edges)
    val s = new GraphStore(seed, keys0)
    var ref = seed
    var refKeys = keys0
    def rowsOf(df: Option[org.apache.spark.sql.DataFrame]) =
      df.map(_.collect().map(_.toSeq).toSeq.sortBy(_.toString))
    def refApply(q: String, ps: Map[String, Any]): CypherWrite.Applied =
      CypherParser.parseAny(q) match {
        case Left(w) => CypherWrite(ref, w, ps, refKeys)
        case Right(_) => fail(s"not a write: $q")
      }
    def advance(a: CypherWrite.Applied): Unit =
      ref = PropertyGraph(a.graph.vertices.localCheckpoint(),
        a.graph.edges.localCheckpoint())
    def both(q: String, ps: Map[String, Any] = Map.empty): Unit =
      CypherParser.parseConstraintDdl(q) match {
        case Some(d) =>
          s.execute(q)
          refKeys += d.label -> d.keys
        case None =>
          val (st, out) = s.executeReturning(q, ps)
          val a = refApply(q, ps)
          assert(st == a.stats, s"`$q`: store ${st} vs reference ${a.stats}")
          assert(rowsOf(out) == rowsOf(a.rows), s"`$q` returned rows differ")
          advance(a)
      }
    def bothThrow(q: String, ps: Map[String, Any]): Unit = {
      val before = s.stats.indexEntries
      intercept[Exception](s.execute(q, ps))
      intercept[Exception](refApply(q, ps))
      assert(s.stats.indexEntries == before, s"`$q` moved the index")
    }
    both("MERGE (p:Person {pid: 1}) SET p.a = 'x' RETURN p.a AS a")
    both("MERGE (p:Person {pid: 1}) SET p.a = 'y' RETURN p.a AS a")
    both("MATCH (p:Person {pid: 1}) SET p.b = '2'")
    both("MERGE (c:City {name: 'oslo'})")
    both("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[r:LIVES_IN]->(c) SET r.x = '1'")
    both("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[r:LIVES_IN]->(c) SET r.x = '2' RETURN r.x AS x")
    // no-op shapes: an existing key without SET, a matched
    // relationship without SET (the store folds nothing for them)
    both("MERGE (p:Person {pid: 9})")
    both("MERGE (p:Person {pid: 1})")
    both("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[r:LIVES_IN]->(c)")
    both("MATCH (p:Person {pid: 9}) SET p.y = '1'")
    // a batch with a repeated key (same values: the batch contract)
    both("UNWIND $rows AS row MERGE (p:Person {pid: row.pid}) SET p.n = row.n",
      Map("rows" -> Seq(Map("pid" -> 2, "n" -> "a"), Map("pid" -> 3, "n" -> "b"),
        Map("pid" -> 2, "n" -> "a"), Map("pid" -> 1, "n" -> "c"))))
    both("MERGE (n:Foo)") // no props: the id is the bare label
    both("MERGE (n:Foo) RETURN id(n) AS i")
    both("MATCH (p:Person {pid: 3}) SET p:Temp")
    both("MATCH (p:Temp) REMOVE p:Temp")
    both("MATCH (p {pid: '3'}) DETACH DELETE p")
    both("MERGE (p:Person {pid: 3}) SET p.a = 'back'")
    both("MATCH (p:Person {pid: 1}) DETACH DELETE p")
    both("MERGE (p:Person {pid: 1}) SET p.a = 'reborn'")
    both("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[:LIVES_IN]->(c)")
    both("CREATE CONSTRAINT FOR (t:Station) REQUIRE t.sid IS UNIQUE")
    both("MERGE (t:Station {sid: 7, name: 'x'})")
    both("MERGE (t:Station {sid: 7}) SET t.name = 'y'")
    bothThrow("CREATE (p:Person {pid: 2})", Map.empty)
    bothThrow("MERGE (p:Person {pid: $id})", Map("id" -> null))
    both("MERGE (p:Person {pid: 2}) SET p.after = 'ok'")
    both("CREATE (p:Person {pid: 5})")
    // the nutrient UNWIND's shape: a node SET plus edges that are
    // created once and matched without SET on the re-run
    val unwind = """UNWIND $rows AS r
      |MATCH (p:Person { pid: r.pid })
      |MERGE (c:City { name: r.city })
      |SET c.pop = r.pop
      |MERGE (p)-[:LIVES_IN]->(c)
      |WITH c, r
      |CALL {
      |  WITH c, r
      |  WITH c, r WHERE r.tag IS NOT NULL
      |  MATCH (t:Person { pid: r.tag })
      |  MERGE (t)-[:VISITS]->(c)
      |  RETURN 0
      |}""".stripMargin
    def unwindRows(pop: String) = Map("rows" -> Seq(
      Map("pid" -> "2", "city" -> "bergen", "pop" -> pop, "tag" -> "5"),
      Map("pid" -> "5", "city" -> "oslo", "pop" -> pop, "tag" -> null),
      Map("pid" -> "9", "city" -> "bergen", "pop" -> pop, "tag" -> "9")))
    both(unwind, unwindRows("1"))
    both(unwind, unwindRows("2"))
    assert(sigOf(s.graph) == sigOf(ref), s"${sigOf(s.graph)}\nvs\n${sigOf(ref)}")
    // an explicit transaction's commit swaps the graph: the index drops
    val tx = Seq("MERGE (c:City {name: 'rome'})",
      "MATCH (p:Person {pid: 2}) MATCH (c:City {name: 'rome'}) " +
        "MERGE (p)-[:LIVES_IN]->(c)")
    s.commitTx(tx.foldLeft(s.graph)((g, q) => s.executeOn(g, q)._1))
    tx.foreach(q => advance(refApply(q, Map.empty)))
    assert(s.stats.indexEntries == 0L)
    both("MERGE (c:City {name: 'rome'}) SET c.cc = 'it'")
    both("MATCH (p:Person {pid: 2}) MATCH (c:City {name: 'rome'}) " +
      "MERGE (p)-[:LIVES_IN]->(c)")
    // save re-bases the store on its durable layout: the index drops
    val dir = java.nio.file.Files.createTempDirectory("graft-keyindex")
    try {
      s.save(dir.resolve("g").toString)
      assert(s.stats.indexEntries == 0L)
      both("MERGE (c:City {name: 'rome'})")
      both("MERGE (p:Person {pid: 4})")
      both("MATCH (p:Person {pid: 4}) DELETE p")
      both("MERGE (p:Person {pid: 4}) SET p.a = 'again'")
      both("MATCH (p:Person {pid: 2})-[r:LIVES_IN]->(c:City {name: 'rome'}) DELETE r")
      both("MATCH (p:Person {pid: 2}) MATCH (c:City {name: 'rome'}) " +
        "MERGE (p)-[:LIVES_IN]->(c)")
      // the durable layout reads its partition columns (label, rel) last
      val got = sigOf(PropertyGraph(
        s.graph.vertices.select("id", "label", "props"),
        s.graph.edges.select("src", "dst", "rel", "props")))
      assert(got == sigOf(ref), s"$got\nvs\n${sigOf(ref)}")
      assert(!s.stats.bucketed && s.stats.indexEntries > 0L, s.stats)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a folded family keeps its measured size: no product estimate, " +
       "no runtime bloom filter on the 1-hop read") {
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    // a small weather store: 4 stations, 30 days each, one
    // HAS_WEATHER_DAY edge per day
    val days = for (st <- 1 to 4; d <- 1 to 30) yield (s"S$st", f"2025-06-$d%02d")
    val g0 = PropertyGraph(
      ((1 to 4).map(st => (s"Station:S$st", "Station",
          Map("serial_number" -> s"S$st"))) ++
        days.map { case (st, d) => (s"WeatherDay:$st:$d", "WeatherDay",
          Map("station_serial" -> st, "date" -> d)) })
        .toDF("id", "label", "props"),
      days.map { case (st, d) => (s"Station:$st", s"WeatherDay:$st:$d",
          "HAS_WEATHER_DAY", Map.empty[String, String]) }
        .toDF("src", "dst", "rel", "props"))
    val s = new GraphStore(g0, Map("Station" -> Seq("serial_number"),
      "WeatherDay" -> Seq("station_serial", "date")))
    // a new day per station with its edge: both families fold
    (1 to 4).foreach { st =>
      val day = Map[String, Any]("s" -> s"S$st", "d" -> "2025-07-15")
      s.execute("MERGE (wd:WeatherDay { station_serial: $s, date: $d })", day)
      s.execute("MATCH (s:Station { serial_number: $s }) " +
        "MATCH (wd:WeatherDay { station_serial: $s, date: $d }) " +
        "MERGE (s)-[:HAS_WEATHER_DAY]->(wd)", day)
    }
    days.take(24).zipWithIndex.foreach { case ((st, d), i) =>
      s.execute("MATCH (wd:WeatherDay { station_serial: $s, date: $d }) " +
        "SET wd.tmax = $t", Map("s" -> st, "d" -> d, "t" -> i.toString))
    }
    val v = s.graph.vertices
    val rows = v.count()
    val estimate = v.queryExecution.optimizedPlan.stats.sizeInBytes
    val perRow = EstimationUtils.getSizePerRow(v.queryExecution.optimizedPlan.output)
    assert(estimate <= perRow * rows * 10 && estimate * 10 >= perRow * rows,
      s"vertex estimate $estimate B for $rows rows of ~$perRow B")
    val read = s.cypher("MATCH (s:Station { serial_number: $serial })" +
      "-[:HAS_WEATHER_DAY]->(wd:WeatherDay { date: $date }) " +
      "RETURN wd.tmax AS tmax", Map("serial" -> "S1", "date" -> "2025-06-03"))
    assert(read.collect().map(_.getString(0)).toSeq == Seq("2"))
    val plan = read.queryExecution.executedPlan.toString +
      read.queryExecution.optimizedPlan.toString
    assert(!plan.contains("might_contain") && !plan.contains("bloom_filter_agg") &&
      !plan.contains("BloomFilterAggregate"), plan)
  }

  test("bucket pruning: repartition(n, id) partition index IS " +
       "pmod(hash(id), n) — the contract the pruned probes rest on") {
    import org.apache.spark.sql.functions.{spark_partition_id, hash => h}
    val df = (1 to 500).map(i => s"Person:$i").toDF("id")
    val b = graft.cypher.BucketedFrame.build(df, Seq("id"), 13)
    val bad = b.df.select(col("id"), spark_partition_id().as("p"),
        (((h(col("id")) % 13) + 13) % 13).as("b"))
      .filter(col("p") =!= col("b")).count()
    assert(bad == 0, s"$bad rows landed outside their hash bucket")
    // pruned() returns exactly the matching rows' buckets
    val keys = Seq("Person:7", "Person:400").toDF("id")
    val pr = b.pruned(keys)
    assert(pr.join(keys, Seq("id"), "left_semi").count() == 2)
    // and is a subset of the frame
    assert(pr.join(b.df, Seq("id"), "left_anti").count() == 0)
  }

  test("bucketed store: RETURN continuations, stats, unkeyed-label " +
       "fallback, >8-statement collapse") {
    val s = new GraphStore(
      PropertyGraph(
        Seq.empty[(String, String, Map[String, String])]
          .toDF("id", "label", "props"),
        Seq.empty[(String, String, String, Map[String, String])]
          .toDF("src", "dst", "rel", "props")),
      Map("Person" -> Seq("pid"), "City" -> Seq("name")),
      forceBucketed = true)
    // MERGE … RETURN reads the post-apply value through pruned lookups
    val (st1, r1) = s.executeReturning(
      "MERGE (p:Person {pid: 1}) SET p.name = 'ann' RETURN p.name AS n")
    assert(st1.nodesCreated == 1L)
    assert(r1.get.collect().map(_.getString(0)).toSeq == Seq("ann"))
    // MATCH prefix on a declared-key label goes through the PRUNED scan
    val st2 = s.execute(
      "MATCH (p:Person {pid: 1}) MERGE (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)")
    assert((st2.nodesCreated, st2.relsCreated) == (1L, 1L))
    // re-run: idempotent through the pruned match probes
    val st3 = s.execute(
      "MATCH (p:Person {pid: 1}) MERGE (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)")
    assert((st3.nodesCreated, st3.nodesMatched, st3.relsCreated,
      st3.relsMatched) == (0L, 1L, 0L, 1L))
    // a label WITHOUT declared keys falls back to the unpruned scan
    s.execute("MERGE (t:Tag {k: 'x'})")
    assert(s.cypher("MATCH (t:Tag) RETURN count(*) AS c")
      .collect().head.getLong(0) == 1L)
    // push past the 8-statement window so collapseSegs runs, then read
    (2 to 12).foreach(i => s.execute(
      "MERGE (p:Person {pid: $i}) SET p.name = $n",
      Map("i" -> i, "n" -> s"p$i")))
    assert(s.graph.vertices.filter(col("label") === "Person").count() == 12)
    val rows = s.cypher(
      "MATCH (p:Person) WHERE p.pid = '7' RETURN p.name AS n").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("p7"))
    // write-then-read in one statement over the bucketed store
    val (_, r4) = s.executeReturning(
      """MERGE (p:Person {pid: 99}) SET p.name = 'neo'
         WITH p MATCH (q:Person {pid: 99}) RETURN q.name AS n""")
    assert(r4.get.collect().map(_.getString(0)).toSeq == Seq("neo"))
  }

  test("bucketed store: overlay OVERFLOW rebucketizes and stays " +
       "equivalent (r14)") {
    // overlayFoldRows = 1 forces the overflow branch on EVERY
    // collapse: since round 15 that path PROMOTES the overlay to an
    // LSM level (O(overlay)) instead of rebuilding the base — the
    // amortized big-store fold path, never otherwise reached on
    // unit-sized fixtures
    val s = new GraphStore(
      PropertyGraph(
        Seq.empty[(String, String, Map[String, String])]
          .toDF("id", "label", "props"),
        Seq.empty[(String, String, String, Map[String, String])]
          .toDF("src", "dst", "rel", "props")),
      Map("Person" -> Seq("pid"), "City" -> Seq("name")),
      forceBucketed = true, overlayFoldRows = 1L)
    val ref = emptyStore() // plain store, same statements
    val stmts = (1 to 10).map(i =>
      (s"MERGE (p:Person {pid: $i}) SET p.name = 'p$i'", i)) ++ Seq(
      ("MATCH (p:Person {pid: 3}) DETACH DELETE p", 0),
      ("MERGE (c:City {name: 'oslo'})", 0),
      ("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) MERGE (p)-[:LIVES_IN]->(c)", 0),
      ("MERGE (p:Person {pid: 3}) SET p.name = 'reborn'", 0))
    stmts.foreach { case (q, _) => s.execute(q); ref.execute(q) }
    def sig(st: GraphStore) = (
      st.graph.vertices.collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getMap[String, String](2)).map(_.toMap)
          .getOrElse(Map.empty[String, String]))).toSet,
      st.graph.edges.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
    assert(sig(s) == sig(ref),
      s"overflow-rebucketize diverged:\n${sig(s)}\nvs\n${sig(ref)}")
    assert(sig(s)._1.exists(v => v._1 == "Person:3" &&
      v._3.get("name").contains("reborn")))
  }

  test("leveled fold: probe results unchanged through ≥4 promotions, " +
       "cross-level updates/deletes/edges, and the MaxLevels full " +
       "fold (r15)") {
    // overlayFoldRows = 1 → every 8-statement collapse promotes the
    // overlay to a new LSM level; 40 statements drive 4 promotions
    // and then the MaxLevels (=4) full re-materialization, exercising
    // base ∪ levels ∪ overlay ∪ segs at every depth. The plain store
    // replays the same statements as the truth.
    val s = new GraphStore(
      PropertyGraph(
        Seq.empty[(String, String, Map[String, String])]
          .toDF("id", "label", "props"),
        Seq.empty[(String, String, String, Map[String, String])]
          .toDF("src", "dst", "rel", "props")),
      Map("Person" -> Seq("pid"), "City" -> Seq("name")),
      forceBucketed = true, overlayFoldRows = 1L)
    val ref = emptyStore()
    val stmts = Seq.newBuilder[String]
    // window 1: seed 8 people (→ level 0)
    (1 to 8).foreach(i =>
      stmts += s"MERGE (p:Person {pid: $i}) SET p.name = 'p$i'")
    // window 2: update ids now living in level 0, plus new rows
    stmts += "MERGE (p:Person {pid: 1}) SET p.name = 'one-v2'"
    stmts += "MATCH (p:Person {pid: 2}) SET p.age = '42'"
    (9 to 14).foreach(i =>
      stmts += s"MERGE (p:Person {pid: $i}) SET p.name = 'p$i'")
    // window 3: delete a level-0 id and a level-1 id, add edges whose
    // endpoints live in different levels
    stmts += "MATCH (p:Person {pid: 3}) DETACH DELETE p"
    stmts += "MATCH (p:Person {pid: 9}) DETACH DELETE p"
    stmts += "MERGE (c:City {name: 'oslo'})"
    stmts += ("MATCH (p:Person {pid: 1}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[:LIVES_IN]->(c)")
    stmts += ("MATCH (p:Person {pid: 10}) MATCH (c:City {name: 'oslo'}) " +
      "MERGE (p)-[:LIVES_IN]->(c)")
    (15 to 17).foreach(i =>
      stmts += s"MERGE (p:Person {pid: $i}) SET p.name = 'p$i'")
    // window 4: re-create a deleted id; DETACH an edge endpoint whose
    // edge row lives in an older level; more churn
    stmts += "MERGE (p:Person {pid: 3}) SET p.name = 'reborn'"
    stmts += "MATCH (c:City {name: 'oslo'}) DETACH DELETE c"
    stmts += "MERGE (c:City {name: 'bergen'})"
    stmts += ("MATCH (p:Person {pid: 4}) MATCH (c:City {name: 'bergen'}) " +
      "MERGE (p)-[:LIVES_IN]->(c)")
    (18 to 21).foreach(i =>
      stmts += s"MERGE (p:Person {pid: $i}) SET p.name = 'p$i'")
    // window 5: pushes past MaxLevels → full fold; update across all
    // prior levels
    stmts += "MERGE (p:Person {pid: 1}) SET p.name = 'one-v3'"
    stmts += "MERGE (p:Person {pid: 9}) SET p.name = 'nine-back'"
    (22 to 27).foreach(i =>
      stmts += s"MERGE (p:Person {pid: $i}) SET p.name = 'p$i'")
    stmts.result().foreach { q => s.execute(q); ref.execute(q) }
    def sig(st: GraphStore) = (
      st.graph.vertices.collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getMap[String, String](2)).map(_.toMap)
          .getOrElse(Map.empty[String, String]))).toSet,
      st.graph.edges.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
    assert(sig(s) == sig(ref),
      s"leveled fold diverged:\n${sig(s)}\nvs\n${sig(ref)}")
    // spot-check cross-level semantics survived the full fold
    val vs = sig(s)._1
    assert(vs.exists(v => v._1 == "Person:1" &&
      v._3.get("name").contains("one-v3")))
    assert(vs.exists(v => v._1 == "Person:3" &&
      v._3.get("name").contains("reborn")))
    assert(vs.exists(v => v._1 == "Person:9" &&
      v._3.get("name").contains("nine-back")))
    assert(!vs.exists(_._1 == "City:oslo"))
    assert(sig(s)._2 == Set(("Person:4", "City:bergen", "LIVES_IN")))
    // read path sees the same store
    val n = s.cypher(
      "MATCH (p:Person {pid: 1}) RETURN p.name AS n").collect()
    assert(n.map(_.getString(0)).toSeq == Seq("one-v3"))
  }

  test("CALL { WITH … WHERE … MATCH … MERGE … RETURN 0 }: the " +
       "reference's conditional-edge tail block (r14)") {
    val s = new GraphStore(
      PropertyGraph(
        Seq.empty[(String, String, Map[String, String])]
          .toDF("id", "label", "props"),
        Seq.empty[(String, String, String, Map[String, String])]
          .toDF("src", "dst", "rel", "props")),
      Map("Prod" -> Seq("name"), "Nut" -> Seq("pid", "n")))
    s.execute("MERGE (p:Prod {name: 'npk'})")
    // two rows: one with a product name (edge expected), one without
    val st = s.execute(
      """UNWIND $rows AS r
         // upsert the nutrient node          <- inline comment, like the reference's text
         MERGE (a:Nut {pid: r.pid, n: r.n})
         SET a.v = r.v
         WITH a, r
         CALL {
           WITH a, r
           WITH a, r WHERE r.name IS NOT NULL
           MATCH (p:Prod {name: r.name})
           MERGE (p)-[:CONTAINS]->(a)
           RETURN 0
         }""",
      Map("rows" -> Seq(
        Map("pid" -> 1, "n" -> "N", "v" -> "1.5", "name" -> "npk"),
        Map("pid" -> 1, "n" -> "P", "v" -> "0.5", "name" -> null),
        Map("pid" -> 2, "n" -> "N", "v" -> "2.0", "name" -> "nope"))))
    // all three nutrient nodes land; only the matching named row edges
    assert(st.nodesCreated == 3L)
    assert(st.relsCreated == 1L)
    assert(s.graph.edges.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("Prod:npk", "Nut:1:N", "CONTAINS")))
    // re-run: full fixpoint (conditional edge matched, not recreated)
    val st2 = s.execute(
      """UNWIND $rows AS r
         MERGE (a:Nut {pid: r.pid, n: r.n}) SET a.v = r.v
         WITH a, r
         CALL {
           WITH a, r WHERE r.name IS NOT NULL
           MATCH (p:Prod {name: r.name})
           MERGE (p)-[:CONTAINS]->(a)
           RETURN 0
         }""",
      Map("rows" -> Seq(
        Map("pid" -> 1, "n" -> "N", "v" -> "1.5", "name" -> "npk"))))
    assert((st2.relsCreated, st2.relsMatched) == (0L, 1L))
    // a RETURN after the CALL tail is rejected loudly
    val e = intercept[IllegalArgumentException](CypherParser.parseAny(
      "MERGE (a:Nut {pid: 1, n: 'N'}) WITH a CALL { WITH a MATCH (p:Prod {name: 'x'}) MERGE (p)-[:C]->(a) RETURN 0 } RETURN a.v AS v"))
    assert(e.getMessage.contains("CALL"))
    // block comments lex too
    assert(CypherParser.parseAny(
      "/* header */ MATCH (p:Prod) RETURN count(*) AS c").isRight)
  }

  test("SET n:Label / REMOVE n:Label — single-label mutation (r14)") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1}) SET p.name = 'ann'")
    // mixed prop + label items in ONE SET: both must apply (the
    // label-only delta row must not shadow the prop row)
    s.execute("MATCH (p:Person {pid: 1}) SET p.age = '30', p:Vip")
    assert(s.cypher("MATCH (v:Vip) RETURN v.name AS n, v.age AS a")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("ann", "30")))
    assert(s.graph.vertices.filter(col("label") === "Person").count() == 0)
    // id handle unchanged: MERGE on the ORIGINAL label/key still
    // addresses the node (engine identity = id)
    val st = s.execute("MERGE (p:Person {pid: 1}) SET p.x = '1'")
    assert((st.nodesCreated, st.nodesMatched) == (0L, 1L))
    // REMOVE with a non-matching label is a no-op
    s.execute("MATCH (v:Vip) REMOVE v:Gold")
    assert(s.graph.vertices.filter(col("label") === "Vip").count() == 1)
    // REMOVE the matching label clears it
    s.execute("MATCH (v:Vip) REMOVE v:Vip")
    assert(s.graph.vertices.filter(col("label").isNull).count() == 1)
    // relabeling INTO a declared-key label is rejected
    val e1 = intercept[IllegalArgumentException](s.execute(
      "MATCH (p) WHERE p.pid = '1' SET p:City"))
    assert(e1.getMessage.contains("uniqueness keys"))
    // label mutation on a just-MERGEd variable is rejected
    val e2 = intercept[IllegalArgumentException](s.execute(
      "MERGE (q:Person {pid: 2}) SET q:Vip"))
    assert(e2.getMessage.contains("MATCH-bound"))
    // two label mutations on one variable in one statement: the
    // survivor would be shuffle-order nondeterministic — rejected (r15)
    s.execute("MERGE (p:Person {pid: 3})")
    val e3 = intercept[IllegalArgumentException](s.execute(
      "MATCH (p) WHERE p.pid = '3' SET p:Gold SET p:Silver"))
    assert(e3.getMessage.contains("nondeterministic"))
  }

  test("SET self-reference idioms: keep-existing (CASE / coalesce) " +
       "and set-if-absent (r15, the reference's product-master + " +
       "soil-layer statements)") {
    val s = emptyStore(Map("P" -> Seq("k")))
    s.execute(
      """MERGE (p:P {k: 1})
         SET p.a = CASE WHEN $a IS NULL THEN p.a ELSE $a END,
             p.b = coalesce($b, p.b),
             p.c = coalesce(p.c, $c)""",
      Map("a" -> "a1", "b" -> "b1", "c" -> "c1"))
    assert(propsOf(s, "P:1") == Map("k" -> "1", "a" -> "a1",
      "b" -> "b1", "c" -> "c1"))
    // null a/b KEEP; set-if-absent c keeps regardless of the new value
    s.execute(
      """MERGE (p:P {k: 1})
         SET p.a = CASE WHEN $a IS NULL THEN p.a ELSE $a END,
             p.b = coalesce($b, p.b),
             p.c = coalesce(p.c, $c)""",
      Map("a" -> null, "b" -> null, "c" -> "c2"))
    assert(propsOf(s, "P:1") == Map("k" -> "1", "a" -> "a1",
      "b" -> "b1", "c" -> "c1"))
    // non-null a/b OVERWRITE; a fresh node takes the set-if-absent value
    s.execute(
      """MERGE (p:P {k: 1})
         SET p.a = CASE WHEN $a IS NULL THEN p.a ELSE $a END,
             p.b = coalesce($b, p.b)""",
      Map("a" -> "a3", "b" -> "b3"))
    assert(propsOf(s, "P:1") == Map("k" -> "1", "a" -> "a3",
      "b" -> "b3", "c" -> "c1"))
    s.execute("MERGE (p:P {k: 2}) SET p.c = coalesce(p.c, $c)",
      Map("c" -> "fresh"))
    assert(propsOf(s, "P:2") == Map("k" -> "2", "c" -> "fresh"))
    // plain SET x = null still REMOVES (the idiom split must not
    // swallow remove semantics)
    s.execute("MATCH (p:P) WHERE p.k = '1' SET p.a = null")
    assert(propsOf(s, "P:1") == Map("k" -> "1", "b" -> "b3", "c" -> "c1"))
    // set-if-absent on a MATCH-bound variable (the soil-layer shape
    // routes through nodeSetDelta)
    s.execute("MATCH (p:P) WHERE p.k = '2' SET p.c = coalesce(p.c, 'x')")
    s.execute("MATCH (p:P) WHERE p.k = '2' SET p.d = coalesce(p.d, 'dv')")
    assert(propsOf(s, "P:2") == Map("k" -> "2", "c" -> "fresh", "d" -> "dv"))
    // set-if-absent over a standing null-valued prop (GraphAssembly's
    // map props hold one for a null column): coalesce(null, $p) is $p,
    // on the MERGE and the MATCH path alike; an untouched null entry stays
    val seeded = new GraphStore(PropertyGraph(
      Seq(("P:3", "P", Map("k" -> "3", "c" -> (null: String),
        "d" -> (null: String)))).toDF("id", "label", "props"),
      emptyGraph().edges), Map("P" -> Seq("k")))
    seeded.execute("MERGE (p:P {k: 3}) SET p.c = coalesce(p.c, $c)",
      Map("c" -> "x"))
    assert(propsOf(seeded, "P:3") ==
      Map("k" -> "3", "c" -> "x", "d" -> (null: String)))
    seeded.execute("MATCH (p:P) WHERE p.k = '3' SET p.d = coalesce(p.d, 'y')")
    assert(propsOf(seeded, "P:3") == Map("k" -> "3", "c" -> "x", "d" -> "y"))
  }

  test("CREATE … SET folds into the pattern (keyed items, single node)") {
    val s = emptyStore()
    val (st, rows) = s.executeReturning(
      """CREATE (c:City {name: 'oslo'}) SET c.cc = 'no', c.pop = $p
         RETURN c.name AS name, c.cc AS cc, c.pop AS pop""",
      Map("p" -> 700000))
    assert(st.nodesCreated == 1L)
    assert(rows.get.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("oslo", "no", "700000")))
    assert(propsOf(s, "City:oslo") ==
      Map("name" -> "oslo", "cc" -> "no", "pop" -> "700000"))
    // a SET targeting a DIFFERENT variable still raises (not a silent fold)
    val e = intercept[IllegalArgumentException](s.execute(
      "CREATE (a:City {name: 'rome'}) SET b.x = '1'"))
    assert(e.getMessage.contains("not a bound node"))
  }

  test("FOREACH basics: param + literal lists, MATCH prefix, RETURN") {
    val s = emptyStore()
    val st = s.execute(
      "FOREACH (row IN $rows | MERGE (p:Person {pid: row.pid}) SET p.name = row.name)",
      Map("rows" -> Seq(Map("pid" -> 1, "name" -> "ann"),
        Map("pid" -> 2, "name" -> "bo"))))
    assert(st.nodesCreated == 2L)
    assert(propsOf(s, "Person:1") == Map("pid" -> "1", "name" -> "ann"))
    // MATCH prefix + FOREACH, literal list, RETURN continuation
    val (_, rows) = s.executeReturning(
      """MATCH (p:Person {pid: 1})
         FOREACH (tag IN ['x'] | MERGE (c:City {name: tag}))
         RETURN p.name AS who, count(*) AS n""")
    assert(rows.get.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("ann", 1L)))
    assert(s.graph.vertices.filter(col("id") === "City:x").count() == 1)
    // empty list: zero-stat no-op (the conditional-write idiom)
    val st2 = s.execute(
      "FOREACH (t IN [] | MERGE (c:City {name: t}))")
    assert(st2 == CypherWrite.Stats(0, 0, 0, 0))
  }

  test("FOREACH as a first-class clause: siblings, nesting, " +
       "cardinality-neutral empty list (r14)") {
    val s = emptyStore()
    // sibling write AFTER a FOREACH block — both land
    val st = s.execute(
      "FOREACH (t IN ['a', 'b'] | MERGE (c:City {name: t})) MERGE (p:Person {pid: 9})")
    assert(st.nodesCreated == 3L)
    // sibling BEFORE, empty list: the sibling still lands
    val st2 = s.execute(
      "MERGE (p:Person {pid: 10}) FOREACH (t IN [] | MERGE (c:City {name: t}))")
    assert(st2.nodesCreated == 1L)
    // EMPTY list is cardinality-neutral: the MATCH rows survive into
    // the RETURN continuation (the r13 advisor's openCypher gap)
    val (_, rows) = s.executeReturning(
      """MATCH (p:Person) FOREACH (x IN [] | SET p.x = '1')
         RETURN count(*) AS n""")
    assert(rows.get.collect().head.getLong(0) == 2L)
    // and the body was skipped: no props written
    assert(s.graph.vertices
      .filter(col("props")("x").isNotNull).count() == 0)
    // nested FOREACH
    val st3 = s.execute(
      """FOREACH (a IN ['x'] |
           FOREACH (b IN ['1', '2'] | MERGE (c:City {name: b}))
           MERGE (c2:City {name: a}))""")
    assert(st3.nodesCreated == 3L)
    // body-bound variables go out of scope: a RETURN referencing the
    // FOREACH element fails to compile, Neo4j-style
    intercept[Exception](s.executeReturning(
      "FOREACH (t IN ['q'] | MERGE (c:City {name: t})) RETURN t AS t"))
  }

  test("constraint-propagation guard: nested/concurrent callers restore once") {
    val key = "spark.sql.constraintPropagation.enabled"
    val before = spark.conf.getOption(key)
    // nested entry: inner exit must NOT restore early
    graft.cypher.GraphStore.withoutConstraintPropagation(spark) {
      assert(spark.conf.get(key) == "false")
      graft.cypher.GraphStore.withoutConstraintPropagation(spark) {
        assert(spark.conf.get(key) == "false")
      }
      assert(spark.conf.get(key) == "false") // still off: outer is open
    }
    assert(spark.conf.getOption(key) == before)
    // concurrent interleave (the advisor's race): N threads toggling;
    // after ALL exit, the original value is restored exactly
    val threads = (1 to 8).map(_ => new Thread(() =>
      graft.cypher.GraphStore.withoutConstraintPropagation(spark) {
        Thread.sleep(20)
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(spark.conf.getOption(key) == before)
  }

  // ---- round 15: CREATE CONSTRAINT DDL (graph_constraints.py) ------

  test("CREATE CONSTRAINT registers the label's MERGE keys") {
    val s = emptyStore(Map.empty)
    // the reference's exact statement text, trailing semicolon included
    // (app/graph_constraints.py:2-5)
    val st = s.execute(
      """CREATE CONSTRAINT field_id_unique IF NOT EXISTS
         FOR (f:Field) REQUIRE f.field_id IS UNIQUE;""")
    assert(st == CypherWrite.Stats(0, 0, 0, 0))
    assert(s.labelKeys("Field") == Seq("field_id"))
    // composite-key form (graph_constraints.py:17-20)
    s.execute(
      """CREATE CONSTRAINT weather_forecast_unique IF NOT EXISTS
         FOR (wf:WeatherForecast)
         REQUIRE (wf.station_serial, wf.date) IS UNIQUE;""")
    assert(s.labelKeys("WeatherForecast") == Seq("station_serial", "date"))
    // MERGE now mints per the registered keys
    s.execute("MERGE (f:Field {field_id: $id}) SET f.name = $n",
      Map("id" -> 9, "n" -> "north"))
    assert(propsOf(s, "Field:9") == Map("field_id" -> "9", "name" -> "north"))
    // idempotent re-run (IF NOT EXISTS / same keys): no-op
    s.execute(
      """CREATE CONSTRAINT field_id_unique IF NOT EXISTS
         FOR (f:Field) REQUIRE f.field_id IS UNIQUE;""")
    assert(s.labelKeys("Field") == Seq("field_id"))
    // conflicting keys on a constrained label: loud failure
    val e = intercept[IllegalArgumentException] {
      s.execute(
        "CREATE CONSTRAINT x FOR (f:Field) REQUIRE (f.a, f.b) IS UNIQUE")
    }
    assert(e.getMessage.contains("conflicting keys"))
  }

  test("CREATE CONSTRAINT over a non-conforming population fails loudly") {
    val s = emptyStore(Map.empty)
    // unkeyed MERGE mints from sorted pattern prop names — ids like
    // `Plot:<name>:<zone>` (sorted: name, zone)
    s.execute("MERGE (p:Plot {zone: $z, name: $n})",
      Map("z" -> 1, "n" -> "a"))
    // a late constraint with a DIFFERENT key tuple contradicts the
    // minted ids — must fail, not silently diverge MERGE identity
    val e = intercept[IllegalStateException] {
      s.execute("CREATE CONSTRAINT FOR (p:Plot) REQUIRE p.zone IS UNIQUE")
    }
    assert(e.getMessage.contains("id convention"))
    // while a constraint MATCHING the minted convention registers fine
    s.execute(
      "CREATE CONSTRAINT FOR (p:Plot) REQUIRE (p.name, p.zone) IS UNIQUE")
    assert(s.labelKeys("Plot") == Seq("name", "zone"))
  }

  test("CREATE CONSTRAINT is rejected inside an explicit transaction") {
    val s = emptyStore(Map.empty)
    val e = intercept[IllegalArgumentException] {
      s.executeOn(s.graph,
        "CREATE CONSTRAINT FOR (f:Field) REQUIRE f.field_id IS UNIQUE")
    }
    assert(e.getMessage.contains("explicit transaction"))
    // and a malformed statement that IS a CREATE CONSTRAINT fails
    // with the DDL grammar's error, not a write-parse one
    val m = intercept[IllegalArgumentException] {
      s.execute("CREATE CONSTRAINT FOR (f:Field) REQUIRE f.field_id IS NODE KEY")
    }
    assert(m.getMessage.toLowerCase.contains("unique"))
  }

  // ---- round 15: inline WITH tail (irrigation / optimum idioms) ----

  test("MATCH … WITH v, $p AS alias WHERE … SET — conditional set") {
    val s = emptyStore()
    s.execute("MERGE (p:Person {pid: 1}) SET p.name = 'ann'")
    // the reference's end-datetime idiom (graph_irrigation_event.py:
    // 323-328): null param → WHERE drops every row → no-op
    val cond =
      """MATCH (p:Person { pid: $id })
         WITH p, $end AS endp
         WHERE endp IS NOT NULL
         SET p.done = endp"""
    val st0 = s.execute(cond, Map("id" -> 1, "end" -> null))
    assert(st0 == CypherWrite.Stats(0, 0, 0, 0))
    assert(propsOf(s, "Person:1") == Map("pid" -> "1", "name" -> "ann"))
    // non-null param → the SET lands on the matched row
    val st1 = s.execute(cond, Map("id" -> 1, "end" -> "2024-05-01"))
    assert(st1.nodesMatched == 1L)
    assert(propsOf(s, "Person:1") ==
      Map("pid" -> "1", "name" -> "ann", "done" -> "2024-05-01"))
  }

  test("MERGE … WITH v MATCH … MERGE edge — write→WITH→MATCH→write") {
    val s = emptyStore(Map(
      "Crop" -> Seq("name"), "OptimumSAPRange" -> Seq("crop_name", "date")))
    // statement 1 (graph_optimum_sap_range.py): the range node
    s.execute("MERGE (osr:OptimumSAPRange { crop_name: $c, date: $d })",
      Map("c" -> "wheat", "d" -> "2024-01-01"))
    // statement 2, verbatim shape: MERGE crop, WITH, MATCH the range
    // written by the PREVIOUS statement, MERGE the edge
    val link =
      """MERGE (c:Crop { name: $c })
         WITH c
         MATCH (osr:OptimumSAPRange { crop_name: $c, date: $d })
         MERGE (c)-[:HAS_OPTIMUM_RANGE]->(osr)"""
    val st = s.execute(link, Map("c" -> "wheat", "d" -> "2024-01-01"))
    assert((st.nodesCreated, st.relsCreated) == (1L, 1L))
    val edges = s.graph.edges.collect()
    assert(edges.length == 1)
    assert(edges.head.getString(0) == "Crop:wheat")
    assert(edges.head.getString(1) == "OptimumSAPRange:wheat:2024-01-01")
    // fixpoint
    val st2 = s.execute(link, Map("c" -> "wheat", "d" -> "2024-01-01"))
    assert((st2.nodesCreated, st2.relsCreated) == (0L, 0L))
    assert(s.graph.edges.count() == 1)
    // a WITH that ends in RETURN still routes to the read
    // continuation, not the inline tail
    val (_, rows) = s.executeReturning(
      """MERGE (c:Crop { name: 'rye' })
         WITH c
         RETURN id(c) AS cid""")
    assert(rows.get.collect().map(_.getString(0)).toSeq == Seq("Crop:rye"))
  }
}
