package graft.cypher

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sinks.bolt.{BoltSocket, PackStream}

/** The engine as a Bolt SERVER for READ queries: a Neo4j wire client
  * connects over genuine TCP (handshake, HELLO/LOGON, chunked
  * PackStream), sends Cypher text with a parameter map, and streams
  * back RECORD frames — where the statement is parsed by
  * [[CypherParser]], compiled by [[CypherCompiler]], and executed by
  * Spark against a [[PropertyGraph]]. Round 9 proved the engine can
  * WRITE over the public wire protocol (sinks/bolt, the reference's
  * terminal artifact boundary); this closes the other direction: a
  * consumer of the reference's graph can point an unmodified Bolt
  * client at the engine and run their MATCH queries.
  *
  * Protocol per statement: RUN → SUCCESS {fields: […]} (the compiled
  * frame's column names), PULL {n: -1} → RECORD per row → SUCCESS.
  * Round 12 adds the EXPLICIT-transaction messages a real driver's
  * `execute_read`/`execute_write` unit of work sends: BEGIN opens a
  * fork of the standing graph (statements apply to the fork, so the
  * transaction reads its own writes), COMMIT swaps the fork in
  * atomically, ROLLBACK discards it, and RESET — honored even from
  * the failed state — clears failure, any open result, and any open
  * transaction. The engine's write discipline stays single-writer
  * (the reference drives one session pool); two WRITING transactions
  * racing BEGIN→COMMIT are last-commit-wins, the documented contract
  * of a fork swap — while COMMIT of a transaction that ran NO write
  * is a protocol no-op (round 13), so a driver's execute_read can
  * never revert concurrent writers.
  * A parse/compile/execution error surfaces as a Bolt FAILURE frame
  * with `Statement.SyntaxError` / `Statement.SemanticError`, and the
  * connection enters the protocol's failed state (subsequent
  * requests IGNORED) — same state machine as the write-side loopback.
  *
  * The result set materializes on the serving side before streaming:
  * that is the nature of the Bolt front door (one socket, one ordered
  * record stream — the same boundary a real Neo4j or a Spark Thrift
  * server has), not of the engine: the heavy work (scans, joins,
  * aggregation) ran distributed BEFORE the collect, and read queries
  * against a graph are aggregates/top-k by construction. Wide-open
  * scans belong on the DataFrame API, not a wire cursor.
  */
final class BoltQueryServer(store: GraphStore, readOnly: Boolean) {
  /** Read-only server over a fixed graph (the round-10 surface). */
  def this(graph: PropertyGraph) = this(new GraphStore(graph), true)
  /** Read-WRITE server over a [[GraphStore]] (round 11): an
    * unmodified Bolt client can MERGE/CREATE/SET into the engine —
    * the exact consumer surface of the reference's store (every
    * projector is MERGE text, app/graph_fields.py:14-30). Write
    * statements answer SUCCESS with Neo4j-shaped `stats` metadata on
    * the PULL summary. */
  def this(store: GraphStore) = this(store, false)

  private val server = new ServerSocket(0, 64,
    java.net.InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  val host: String = server.getInetAddress.getHostAddress
  val connections = new AtomicLong(0L)

  private val accepted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  private val acceptor = new Thread(() => {
    try {
      while (!server.isClosed) {
        val s = server.accept()
        accepted.add(s)
        connections.incrementAndGet()
        val t = new Thread(() => serve(s), s"bolt-query-${connections.get}")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: SocketException => () } // close() racing accept()
  }, "bolt-query-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    server.close()
    accepted.iterator().asScala.foreach { s =>
      try s.close() catch { case _: java.io.IOException => () }
    }
    accepted.clear()
  }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true) // small SUCCESS/RECORD frames must not sit in Nagle
    val in = new DataInputStream(
      new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    try {
      val magic = new Array[Byte](4); in.readFully(magic)
      require(magic.sameElements(BoltSocket.Magic), "bad Bolt magic")
      val proposed = Seq.fill(4)(in.readInt())
      val supported = Set(0x00000105, 0x00000005, 0x00000404)
      val chosen = proposed.find(supported.contains).getOrElse(0)
      out.writeInt(chosen); out.flush()
      if (chosen == 0) { sock.close(); return }
      val (major, minor) = BoltSocket.versionParts(chosen)
      var loggedOn = !(major > 5 || (major == 5 && minor >= 1))

      // RUN compiles + executes + collects; PULL streams the rows
      var pending: Option[(Seq[String], Array[Seq[Any]])] = None
      // write statements: stats for the PULL summary frame
      var pendingStats: Option[Map[String, Any]] = None
      var failedState = false
      // explicit transaction (BEGIN…COMMIT/ROLLBACK): a fork of the
      // standing graph. Statements apply to the fork — the tx reads
      // its own writes — and COMMIT swaps the fork in atomically;
      // ROLLBACK just drops it. The fork compacts every 8 writes
      // (stacked broadcast probes get super-linear).
      var txGraph: Option[PropertyGraph] = None
      var txWrites = 0
      var open = true
      def fail(code: String, m: String): Unit = {
        failedState = true
        BoltSocket.writeMessage(out, PackStream.Struct(BoltSocket.MsgFailure,
          Seq(Map[String, Any]("code" -> code, "message" -> m))))
      }
      def success(meta: Map[String, Any]): Unit =
        BoltSocket.writeMessage(out,
          PackStream.Struct(BoltSocket.MsgSuccess, Seq(meta)))

      while (open) {
        val msg =
          try BoltSocket.readMessage(in)
          catch { case _: EOFException => open = false; null }
        if (open) msg.signature match {
          case BoltSocket.MsgHello =>
            success(Map("server" -> "graft/bolt-query",
              "connection_id" -> s"graft-${connections.get}"))
          case BoltSocket.MsgLogon =>
            loggedOn = true; success(Map.empty[String, Any])
          case BoltSocket.MsgGoodbye => open = false
          case BoltSocket.MsgReset =>
            // RESET is the one request a failed connection must still
            // honor: it clears the failed state, any open result, and
            // any open (uncommitted) transaction — back to ready
            failedState = false
            pending = None; pendingStats = None
            txGraph = None; txWrites = 0
            success(Map.empty[String, Any])
          case _ if failedState =>
            BoltSocket.writeMessage(out,
              PackStream.Struct(BoltSocket.MsgIgnored, Seq.empty))
          case BoltSocket.MsgBegin =>
            if (txGraph.isDefined)
              fail("Neo.ClientError.Request.Invalid",
                "BEGIN inside an open transaction")
            else {
              txGraph = Some(store.graph); txWrites = 0
              success(Map.empty[String, Any])
            }
          case BoltSocket.MsgCommit =>
            txGraph match {
              case Some(g) =>
                // COMMIT of a READ-ONLY transaction is a protocol
                // no-op (round 13, advisor): swapping in the BEGIN-time
                // fork unconditionally would silently revert writes
                // committed by OTHER connections between this tx's
                // BEGIN and COMMIT — a driver's execute_read must
                // never be a destructive write.
                if (txWrites > 0) store.commitTx(g)
                txGraph = None; txWrites = 0
                success(Map("bookmark" -> s"graft:tx-${connections.get}"))
              case None =>
                fail("Neo.ClientError.Request.Invalid",
                  "COMMIT with no open transaction")
            }
          case BoltSocket.MsgRollback =>
            txGraph match {
              case Some(_) =>
                txGraph = None; txWrites = 0
                success(Map.empty[String, Any])
              case None =>
                fail("Neo.ClientError.Request.Invalid",
                  "ROLLBACK with no open transaction")
            }
          case BoltSocket.MsgRun =>
            val stmt = msg.fields.head.asInstanceOf[String]
            val params = msg.fields(1).asInstanceOf[Map[String, Any]]
            if (!loggedOn)
              fail("Neo.ClientError.Security.Unauthorized",
                "RUN before LOGON on a 5.1+ connection")
            else try {
              // catalog procedures first (round 16): `CALL
              // db.labels()` & co — what an unmodified driver,
              // Browser, or BI tool issues on connect to browse the
              // graph. Read-only, allowed inside transactions, served
              // from the standing store (a tx fork's uncommitted
              // schema is invisible to Neo4j's token procs too).
              val proc = CypherParser.parseProcedureCall(stmt)
              // bind the DDL parse ONCE (same discipline as
              // executeReturning's `val ddl`)
              val ddl = if (proc.isDefined) None
                        else CypherParser.parseConstraintDdl(stmt)
              if (proc.isDefined) {
                val (fields, rows) = store.procedureRows(proc.get)
                pending = Some((fields, rows.map(_.map(wireValue))))
                pendingStats = None
                success(Map("fields" -> fields))
              }
              // schema DDL (CREATE CONSTRAINT — the reference's
              // bootstrap, graph_constraints.py): registers the
              // label's keys on the store; zero-stat, no rows. Like
              // Neo4j, schema and data statements don't mix inside an
              // explicit transaction.
              else if (ddl.isDefined) {
                if (readOnly)
                  fail("Neo.ClientError.Security.Forbidden",
                    "schema statement on a read-only server")
                else if (txGraph.isDefined)
                  fail("Neo.ClientError.Transaction.ForbiddenDueToTransactionType",
                    "schema statements are not allowed in an explicit " +
                    "transaction")
                else {
                  store.registerConstraint(ddl.get)
                  pending = Some((Seq.empty, Array.empty))
                  pendingStats =
                    Some(CypherWrite.Stats(0, 0, 0, 0).toWireMap)
                  success(Map("fields" -> Seq.empty))
                }
              } else
              CypherParser.parseAny(stmt) match {
                case Left(_) =>
                  if (readOnly)
                    fail("Neo.ClientError.Security.Forbidden",
                      "write statement on a read-only server")
                  else {
                    // a write with a RETURN/WITH continuation streams
                    // its rows back like any query; fields/records
                    // stay empty for the plain (stats-only) statements
                    def collectRows(rows: Option[
                        org.apache.spark.sql.DataFrame])
                        : (Seq[String], Array[Seq[Any]]) = rows match {
                      case Some(df) =>
                        (df.columns.toSeq, df.collect().map(r =>
                          Seq.tabulate(r.length)(i => wireValue(r.get(i)))))
                      case None => (Seq.empty, Array.empty)
                    }
                    txGraph match {
                      case Some(g) =>
                        // apply to the FORK: the transaction reads its
                        // own writes; nothing lands until COMMIT
                        val (ng, s, rows) = store.executeOn(g, stmt, params)
                        txGraph = Some(
                          if ({ txWrites += 1; txWrites } % 8 == 0)
                            store.compacted(ng)
                          else ng)
                        val (fields, recs) = collectRows(rows)
                        pending = Some((fields, recs))
                        pendingStats = Some(s.toWireMap)
                        success(Map("fields" -> fields))
                      case None =>
                        // auto-commit: the store's execute holds the
                        // single-writer lock and folds
                        val (s, rows) = store.executeReturning(stmt, params)
                        val (fields, recs) = collectRows(rows)
                        pending = Some((fields, recs))
                        pendingStats = Some(s.toWireMap)
                        success(Map("fields" -> fields))
                    }
                  }
                case Right(q) =>
                  val df = CypherCompiler.run(
                    txGraph.getOrElse(store.graph), q, params)
                  val fields = df.columns.toSeq
                  val rows = df.collect().map(r =>
                    Seq.tabulate(r.length)(i => wireValue(r.get(i))))
                  pending = Some((fields, rows))
                  pendingStats = None
                  success(Map("fields" -> fields))
              }
            } catch {
              case e: IllegalArgumentException =>
                fail("Neo.ClientError.Statement.SyntaxError",
                  String.valueOf(e.getMessage))
              case scala.util.control.NonFatal(e) =>
                fail("Neo.ClientError.Statement.SemanticError",
                  s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          case BoltSocket.MsgPull =>
            pending match {
              case Some((_, rows)) =>
                rows.foreach { r =>
                  BoltSocket.writeMessage(out,
                    PackStream.Struct(BoltSocket.MsgRecord, Seq(r)))
                }
                pending = None
                val meta = pendingStats
                  .map(s => Map[String, Any]("stats" -> s))
                  .getOrElse(Map.empty[String, Any])
                pendingStats = None
                success(meta)
              case None =>
                fail("Neo.ClientError.Request.Invalid",
                  "PULL with no open result")
            }
          case other =>
            fail("Neo.ClientError.Request.Invalid",
              f"query server does not handle message 0x$other%02X")
        }
      }
    } catch {
      case _: EOFException | _: SocketException => () // client went away
    } finally { sock.close(); accepted.remove(sock) }
  }

  /** Spark cell → PackStream-encodable value. Temporal and decimal
    * cells go as ISO/plain strings (PackStream core has no temporal
    * types; Bolt structures for them are out of this subset's scope —
    * the Cypher surface's props are strings already). */
  private def wireValue(v: Any): Any = v match {
    case null => null
    case s: String => s
    case b: Boolean => b
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n
    case f @ (_: Float | _: Double) => f
    case b: Array[Byte] => b
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    // collect()/keys() results and map-typed props: PackStream has
    // native list/map forms, which is what a Bolt client expects back
    case s: scala.collection.Seq[_] => s.map(wireValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => String.valueOf(k) -> wireValue(mv) }
    case other => other.toString
  }
}
