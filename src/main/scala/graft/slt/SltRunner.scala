package graft.slt

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Graft, model}
import graft.model.{ForeignKeySpec, GraphAnalysisException, TableKeys,
  TableResolver}

/** Mechanical replay of the reference's sqllogictest corpus
  * (`test/sql` `.test` files of the reference) against the Spark engine — the
  * "tiny sqllogictest-style runner" SURVEY §5 budgeted. It parses the
  * classic sqllogictest record format (`statement ok`,
  * `statement error` + expected message, `query <types> [sort]` +
  * expected rows) and executes each record through [[graft.Graft]],
  * keeping per-file isolation with a fresh Spark sub-session.
  *
  * Documented divergences from a native DuckDB run:
  *  - `CREATE TABLE` / `INSERT INTO` are interpreted by a mini table
  *    store (Spark temp views): Spark SQL has no constraint DDL, so
  *    PRIMARY KEY / REFERENCES clauses are stripped into
  *    [[graft.model.KeyRegistry]] — which is exactly what makes the
  *    reference's PK/FK key-inference tests replayable.
  *  - Result comparison is a sorted multiset of rendered rows: a Spark
  *    plan has no deterministic row order without ORDER BY, so insertion-
  *    order-dependent expectations compare order-insensitively.
  *  - `statement error` asserts that the engine errors; the expected
  *    message is matched as a normalized substring when possible and
  *    reported (not failed) otherwise — cross-engine message parity is
  *    exact only where the compiler deliberately mirrors the reference's
  *    text.
  */
object SltRunner {

  sealed trait Record { def line: Int; def sql: String }
  final case class StatementOk(sql: String, line: Int) extends Record
  final case class StatementError(sql: String, expected: String, line: Int)
      extends Record
  final case class QueryRec(sql: String, expected: Seq[String],
      rowsort: Boolean, connection: Option[String], line: Int) extends Record

  final case class RecordResult(record: Record, status: String,
      detail: String = "") // status: pass | fail | skip | msg-mismatch
  final case class FileResult(file: String, skippedFile: Option[String],
      records: Seq[RecordResult]) {
    def passed: Int = records.count(_.status == "pass")
    def failures: Seq[RecordResult] = records.filter(_.status == "fail")
    def skipped: Seq[RecordResult] = records.filter(_.status == "skip")
    def msgMismatches: Seq[RecordResult] =
      records.filter(_.status == "msg-mismatch")
  }

  /** Extensions this engine satisfies for `require`. */
  private val knownRequires = Set("duckpgq", "parquet", "json")

  // ---------------------------------------------------------------- parse

  def parse(text: String): (Seq[Record], Option[String]) = {
    val lines = text.split("\n", -1)
    val records = mutable.ArrayBuffer.empty[Record]
    var skipFile: Option[String] = None
    var i = 0
    def collectUntil(stop: String => Boolean): Seq[String] = {
      val buf = mutable.ArrayBuffer.empty[String]
      while (i < lines.length && !stop(lines(i))) {
        // a comment line inside a record block (`# Self loops` after an
        // INSERT, weakly_connected_component.test:44) is not SQL
        if (!lines(i).trim.startsWith("#")) buf += lines(i)
        i += 1
      }
      buf.toSeq
    }
    while (i < lines.length && skipFile.isEmpty) {
      val raw = lines(i)
      val l = raw.trim
      if (l.isEmpty || l.startsWith("#")) { i += 1 }
      else if (l.toLowerCase.startsWith("require-env")) {
        skipFile = Some(s"require-env not provided: $l")
      } else if (l.toLowerCase.startsWith("require ")) {
        val ext = l.split("\\s+")(1).toLowerCase
        if (!knownRequires.contains(ext)) skipFile = Some(s"require $ext")
        i += 1
      } else if (l.toLowerCase.startsWith("mode ") ||
          l.toLowerCase.startsWith("load ") ||
          l.toLowerCase.startsWith("restart")) {
        skipFile = Some(s"unsupported directive: $l")
      } else if (l.toLowerCase.startsWith("loop") ||
          l.toLowerCase.startsWith("foreach")) {
        skipFile = Some(s"unsupported directive: $l")
      } else if (l.toLowerCase.startsWith("statement ok")) {
        val at = i; i += 1
        val sql = collectUntil(s => s.trim.isEmpty || s.trim == "----")
          .mkString("\n")
        if (i < lines.length && lines(i).trim == "----") {
          i += 1; collectUntil(_.trim.isEmpty) // tolerated stray block
        }
        records += StatementOk(sql, at + 1)
      } else if (l.toLowerCase.startsWith("statement error")) {
        val at = i; i += 1
        val sql = collectUntil(s => s.trim == "----" || s.trim.isEmpty)
          .mkString("\n")
        var expected = ""
        if (i < lines.length && lines(i).trim == "----") {
          i += 1
          expected = collectUntil(_.trim.isEmpty).mkString("\n")
        }
        records += StatementError(sql, expected, at + 1)
      } else if (l.toLowerCase.startsWith("query")) {
        val at = i
        val header = l.split("\\s+").toSeq
        val rowsort = header.exists(_.equalsIgnoreCase("rowsort"))
        val conn = header.drop(2)
          .find(h => !h.equalsIgnoreCase("rowsort") &&
            !h.equalsIgnoreCase("valuesort") && !h.equalsIgnoreCase("nosort"))
        i += 1
        val sql = collectUntil(s => s.trim == "----" || s.trim.isEmpty)
          .mkString("\n")
        var expected = Seq.empty[String]
        if (i < lines.length && lines(i).trim == "----") {
          i += 1
          expected = collectUntil(_.trim.isEmpty).map(_.stripLineEnd)
        }
        records += QueryRec(sql, expected, rowsort, conn, at + 1)
      } else {
        skipFile = Some(s"unrecognized directive at line ${i + 1}: $l")
      }
    }
    (records.toSeq, skipFile)
  }

  // ------------------------------------------------------------- execute

  /** @param divergences record line → documented-divergence reason: a
    *   record failing at such a line reports `skip` with the reason
    *   instead of failing the file (e.g. rowid-exact expectations, or
    *   reference NotImplemented errors for features graft supports). */
  def runFile(spark0: SparkSession, path: String,
      divergences: Map[Int, String] = Map.empty): FileResult = {
    val res = runFileRaw(spark0, path)
    res.copy(records = res.records.map { r =>
      divergences.get(r.record.line) match {
        case Some(reason) if r.status == "fail" =>
          r.copy(status = "skip",
            detail = s"documented divergence: $reason (was: ${r.detail})")
        case _ => r
      }
    })
  }

  private def runFileRaw(spark0: SparkSession, path: String): FileResult = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val (records, skipFile) = parse(text)
    if (skipFile.isDefined) return FileResult(path, skipFile, Nil)
    if (records.exists {
        case q: QueryRec => q.connection.isDefined
        case _ => false
      })
      return FileResult(path,
        Some("multi-connection test (per-connection state is N/A for a " +
          "single-session Spark replay)"), Nil)
    val session = new SltSession(spark0)
    val out = records.map {
      case r @ StatementOk(sql, _) =>
        splitStatements(sql).foldLeft(RecordResult(r, "pass")) { (acc, s) =>
          if (acc.status != "pass") acc
          else try { session.execute(s).foreach(_.collect()); acc }
          catch {
            case SkipStatement(reason) => RecordResult(r, "skip", reason)
            case e: Throwable =>
              RecordResult(r, "fail", s"threw: ${trimMsg(e)}")
          }
        }
      case r @ StatementError(sql, expected, _) =>
        try {
          splitStatements(sql).foreach(s =>
            session.execute(s).foreach(_.collect()))
          RecordResult(r, "fail", "expected an error, statement succeeded")
        } catch {
          case SkipStatement(reason) => RecordResult(r, "skip", reason)
          case e: Throwable =>
            if (expected.isEmpty || messageMatches(expected, e))
              RecordResult(r, "pass")
            else RecordResult(r, "msg-mismatch",
              s"expected «${normalizeExpected(expected)}» got «${trimMsg(e)}»")
        }
      case r @ QueryRec(sql, expected, _, _, _) =>
        try {
          val dfOpt = session.execute(
            splitStatements(sql).headOption.getOrElse(sql))
          val rows = dfOpt.map(_.collect().toSeq).getOrElse(Nil)
          val got = rows.map(renderRow(_, boolAsInt = false))
          // sqllogictest renders a boolean under an `I` type column as
          // 1/0 (summarize_property_graph.test:22 vs :46) — accept either
          val gotI = rows.map(renderRow(_, boolAsInt = true))
          val want = normalizeExpectedRows(expected)
          if (got.sorted == want.sorted || gotI.sorted == want.sorted)
            RecordResult(r, "pass")
          else {
            // show the MULTISET DIFFERENCE, not the first rows — a long
            // result differing at row 80 is undiagnosable from a prefix
            def minus(a: Seq[String], b: Seq[String]): Seq[String] = {
              val counts = mutable.Map.empty[String, Int]
              b.foreach(x => counts(x) = counts.getOrElse(x, 0) + 1)
              a.filter { x =>
                val c = counts.getOrElse(x, 0)
                if (c > 0) { counts(x) = c - 1; false } else true
              }
            }
            val gs = got.sorted; val ws = want.sorted
            RecordResult(r, "fail",
              s"rows differ (${gs.length} got vs ${ws.length} want): " +
                s"got-only=${minus(gs, ws).take(6).mkString("|")} " +
                s"want-only=${minus(ws, gs).take(6).mkString("|")}")
          }
        } catch {
          case SkipStatement(reason) => RecordResult(r, "skip", reason)
          case e: Throwable => RecordResult(r, "fail", s"threw: ${trimMsg(e)}")
        }
    }
    FileResult(path, None, out)
  }

  /** Quote-aware split on `;`. */
  def splitStatements(sql: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inStr = false
    for (c <- sql) {
      if (inStr) { cur += c; if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true; cur += c
        case ';' => if (cur.toString.trim.nonEmpty) out += cur.toString
          cur.clear()
        case _ => cur += c
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.toSeq
  }

  private def trimMsg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
      .linesIterator.take(2).mkString(" ").take(300)

  /** Reference messages carry an `Invalid Error:` / `Binder Error:` /
    * `Parser Error:` class prefix and may be a substring-with-wildcards;
    * match loosely: strip the prefix, then require the longest
    * non-wildcard chunk to appear in our message (case-insensitive). */
  private def normalizeExpected(expected: String): String =
    expected.linesIterator.mkString(" ")
      .replaceFirst("^(Invalid|Binder|Parser|Catalog|Constraint|IO|" +
        "Not implemented) Error:\\s*", "")
      .trim
  private def messageMatches(expected: String, e: Throwable): Boolean = {
    val norm = normalizeExpected(expected)
    val chunks = norm.split("<REGEX>:?|\\.\\*").filter(_.trim.nonEmpty)
    val longest = if (chunks.isEmpty) norm
      else chunks.maxBy(_.length).trim
    val ours = Option(e.getMessage).getOrElse("").linesIterator
      .mkString(" ").toLowerCase
    longest.nonEmpty && ours.contains(longest.toLowerCase)
  }

  /** sqllogictest renders one VALUE per line when a row has a single
    * column; multi-column rows are tab-separated on one line. Empty
    * string renders `(empty)`. */
  private def normalizeExpectedRows(expected: Seq[String]): Seq[String] =
    expected.map(_.replace("\t", ""))

  private def renderRow(r: Row, boolAsInt: Boolean): String =
    (0 until r.length).map { i =>
      r.get(i) match {
        case b: java.lang.Boolean if boolAsInt => if (b) "1" else "0"
        case v => renderValue(v)
      }
    }.mkString("\u0001")

  private def renderValue(v: Any): String = v match {
    case null => "NULL"
    case s: String => if (s.isEmpty) "(empty)" else s
    case b: Boolean => if (b) "true" else "false"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    // Scala's Float.toString prints the shortest float32 round-trip —
    // exactly DuckDB's FLOAT rendering (0.6666667, not 0.66666668...)
    case f: java.lang.Float =>
      val fl = f.floatValue
      if (fl == math.rint(fl) && math.abs(fl) < 1e15f) s"${fl.toLong}.0"
      else fl.toString
    case d: Double => renderDouble(d)
    case i: java.lang.Integer => i.toString
    case l: java.lang.Long => l.toString
    case a: scala.collection.Seq[_] =>
      a.map(renderListValue).mkString("[", ", ", "]")
    case a: Array[_] => a.map(renderListValue).mkString("[", ", ", "]")
    case r: Row =>
      // DuckDB struct rendering: {'field': value, …}
      r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        s"'$f': ${renderListValue(r.get(i))}"
      }.mkString("{", ", ", "}")
    case ts: java.sql.Timestamp => renderTimestamp(ts.toLocalDateTime)
    case dt: java.time.LocalDateTime => renderTimestamp(dt)
    case in: java.time.Instant =>
      renderTimestamp(java.time.LocalDateTime.ofInstant(in,
        java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => renderDate(d)
    case other => other.toString
  }

  /** DuckDB timestamp rendering: `yyyy-MM-dd HH:mm:ss[.fraction]` with the
    * fraction's trailing zeros trimmed and no `+` on 5-digit years
    * (`2010-09-22 20:50:17.62`, `44488-11-08 06:37:29`). */
  private def renderTimestamp(dt: java.time.LocalDateTime): String = {
    val date = renderDate(dt.toLocalDate)
    val base = f"$date ${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
    val nanos = dt.getNano
    if (nanos == 0) base
    else {
      val frac = f"$nanos%09d".reverse.dropWhile(_ == '0').reverse
      s"$base.$frac"
    }
  }

  private def renderDate(d: java.time.LocalDate): String =
    f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d"

  /** DuckDB prints integral doubles as `N.0`, everything else with
    * minimal digits. */
  private def renderDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else if (d == math.rint(d) && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString

  /** Inside DuckDB list/struct rendering, NULL spells NULL and strings
    * are bare (matching the reference expectations like `[0]`,
    * `{'id': 0, 'name': Daniel}`). */
  private def renderListValue(v: Any): String = v match {
    case null => "NULL"
    case s: String => s
    case other => renderValue(other)
  }

  final case class SkipStatement(reason: String) extends RuntimeException
}

/** Per-file execution state: an isolated Spark sub-session, a mini table
  * store for `CREATE TABLE` / `INSERT INTO`, and a [[Graft]] facade for
  * everything PGQ. */
final class SltSession(spark0: SparkSession) {
  import SltRunner.SkipStatement

  val spark: SparkSession = spark0.newSession()
  // DuckDB byte parity for path arrays: the replay compares against the
  // reference's expected output, which carries PHYSICAL vertex rowids
  // (match.cpp:503-506) — the mini table store provides `__rowid`, so
  // the opt-in translation has its source. Library default stays keys.
  spark.conf.set("spark.graft.pathArrayRowids", "true")
  /** Mini table store first (it carries the hidden `__rowid` column and
    * resolves quoted/reserved names directly), catalog fallback. */
  private val resolver: TableResolver = new TableResolver {
    def apply(s: SparkSession, t: String): DataFrame =
      tables.getOrElse(t.toLowerCase, TableResolver.catalog(s, t))
  }
  private val g = Graft(spark, resolver)
  private val keyReg = model.KeyRegistry.forSession(spark)
  private val tables = mutable.Map.empty[String, DataFrame]
  /** DuckPGQ's per-connection CSR list (`duckpgq_state` csr_list): csr id →
    * snapshot, populated by the canonical CREATE_CSR_EDGE statement. */
  private val csrs = mutable.Map.empty[Long, _root_.graft.graph.GraphSnapshot]
  private lazy val testDir: String =
    java.nio.file.Files.createTempDirectory("graft_slt_").toString
  import spark.implicits._

  /** Executes one statement; Some(df) when it produces rows. */
  def execute(statement: String): Option[DataFrame] = {
    val stmt = preprocess(statement.trim.stripSuffix(";").trim)
    if (stmt.isEmpty) return None
    val u = stmt.toUpperCase.replaceAll("\\s+", " ")
    if (u.contains("DUCKDB_DATABASES()") || u.contains("DUCKDB_CONSTRAINTS()")
        || u.contains("INFORMATION_SCHEMA."))
      throw SkipStatement("host-catalog introspection (duckdb_* / " +
        "information_schema)")
    if (u.startsWith("CREATE TABLE") ||
        u.startsWith("CREATE OR REPLACE TABLE") ||
        u.startsWith("CREATE TEMP TABLE") ||
        u.startsWith("CREATE TEMPORARY TABLE")) {
      createTable(stmt); None
    } else if (u.startsWith("INSERT INTO")) { insert(stmt); None }
    else if (u.startsWith("DROP TABLE")) { dropTable(stmt); None }
    else if (u.startsWith("ALTER TABLE")) { alterTable(stmt); None }
    else if (u.startsWith("CREATE PROPERTY GRAPH") ||
        u.startsWith("CREATE OR REPLACE PROPERTY GRAPH") ||
        u.startsWith("DROP PROPERTY GRAPH") ||
        u.startsWith("-CREATE PROPERTY GRAPH")) {
      g.sql(stmt); None
    } else if (u.startsWith("DESCRIBE PROPERTY GRAPH")) {
      val name = stmt.split("\\s+").last
      Some(_root_.graft.ddl.Introspect.describe(spark,
        g.registry.get(spark, name)))
    } else if (u.startsWith("IMPORT DATABASE")) {
      importDatabase(stmt); None
    } else if (u.startsWith("COPY ") || u.startsWith("COPY(")) {
      copyTo(stmt); None
    } else if (u.startsWith("EXPLAIN")) {
      explain(stmt); None
    } else if (u.startsWith("PRAGMA CREATE_VERTEX_TABLE")) {
      pragmaCreateVertexTable(stmt); None
    } else if (u.startsWith("PRAGMA SHOW_PROPERTY_GRAPHS") ||
        u.startsWith("CALL SHOW_PROPERTY_GRAPHS")) {
      Some(_root_.graft.ddl.Introspect.showPropertyGraphs(spark))
    } else if (u.contains("CREATE_CSR_EDGE")) {
      createCsr(stmt); None
    } else if (u.startsWith("ATTACH") || u.startsWith("USE ") ||
        u.startsWith("PRAGMA") || u.startsWith("SET ") ||
        u.startsWith("CHECKPOINT") || u.startsWith("EXPORT") ||
        u.startsWith("CALL ")) {
      throw SkipStatement(s"host-engine statement: ${stmt.take(40)}")
    } else {
      // query (SELECT/FROM/WITH…): DuckDB's FROM-first shorthand becomes
      // SELECT *; GRAPH_TABLE spans are compiled and substituted
      if (u.contains("__DUCKPGQ_INTERNAL")) registerInternalView()
      val q0 = if (u.startsWith("FROM ") || u.startsWith("FROM(") ||
          u.startsWith("FROM\n")) s"SELECT * $stmt" else stmt
      Some(g.sqlGraph(rewriteReadCsv(rewriteCsrCalls(q0))))
    }
  }

  /** csv files written by [[copyTo]] and whether they carry a header —
    * replayed `FROM '<path>'` reads sniff like DuckDB would. */
  private val writtenCsv = mutable.Map[String, Boolean]()
  private var fileViewN = 0

  private def fileView(path0: String): String = {
    val path = if (new java.io.File(path0).isAbsolute) path0
      else s"/root/reference/$path0"
    fileViewN += 1
    val view = s"__file_$fileViewN"
    val df = if (path.endsWith(".parquet")) spark.read.parquet(path)
      else spark.read
        .option("header", writtenCsv.getOrElse(path, true).toString)
        .option("inferSchema", "true").csv(path)
    df.createOrReplaceTempView(view)
    view
  }

  /** `read_csv('<path>')` and DuckDB's bare `FROM '<path>'` file refs →
    * temp views (header presence from the COPY that wrote the file;
    * inferred schema — DuckDB's sniffing defaults). */
  private def rewriteReadCsv(q: String): String = {
    val fnPat = "(?i)\\bread_csv(?:_auto)?\\s*\\(\\s*'([^']+)'\\s*\\)".r
    val refPat = "(?i)\\b(FROM|JOIN)\\s+'([^']+\\.(?:csv|txt|parquet))'".r
    var out = q
    var n = 0
    var m = fnPat.findFirstMatchIn(out)
    while (m.isDefined && n < 16) {
      n += 1
      out = out.substring(0, m.get.start) + fileView(m.get.group(1)) +
        out.substring(m.get.end)
      m = fnPat.findFirstMatchIn(out)
    }
    var m2 = refPat.findFirstMatchIn(out)
    while (m2.isDefined && n < 32) {
      n += 1
      out = out.substring(0, m2.get.start) + m2.get.group(1) + " " +
        fileView(m2.get.group(2)) + out.substring(m2.get.end)
      m2 = refPat.findFirstMatchIn(out)
    }
    out
  }

  /** Dialect shims applied to every statement: DuckDB's bare `count()`,
    * CTE materialization hints, positional join, scalar csr functions. */
  private def preprocess(stmt0: String): String = {
    var s = stmt0.replace("__TEST_DIR__", testDir)
    s = s.replaceAll("(?i)\\bcount\\(\\s*\\)", "count(*)")
    s = s.replaceAll("(?i)\\bAS\\s+(?:NOT\\s+)?MATERIALIZED\\s*\\(", "AS (")
    s = s.replaceAll("(?i)^EXPLAIN\\s+ANALYZE\\b", "EXPLAIN")
    s = rewriteScalarCsr(s)
    s = rewritePositionalJoin(s)
    s
  }

  /** `delete_csr(N)` / `csr_get_w_type(N)` are scalar functions over the
    * session CSR list (`delete_csr.test:84-103`,
    * `get_csr_w_type.test:86-158`) — evaluate them to literals. */
  private def rewriteScalarCsr(s: String): String = {
    val del = "(?i)\\bdelete_csr\\s*\\(\\s*(\\d+)\\s*\\)".r
    val wt = "(?i)\\bcsr_get_w_type\\s*\\(\\s*(\\d+)\\s*\\)".r
    val s1 = del.replaceAllIn(s, m => {
      val id = m.group(1).toLong
      val existed = csrs.remove(id).map { sn => sn.unpersist(); true }
        .getOrElse(false)
      existed.toString
    })
    wt.replaceAllIn(s1, m => {
      val id = m.group(1).toLong
      val snap = csrs.getOrElse(id,
        throw GraphAnalysisException(s"CSR with id $id does not exist"))
      snap.weightType.toString
    })
  }

  /** `A a POSITIONAL JOIN B b` — pair rows by position (DuckDB extension,
    * `csr_segfault.test:9`): zipWithIndex both sides, join on the index. */
  private def rewritePositionalJoin(s: String): String = {
    val pat = ("(?i)FROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+POSITIONAL\\s+JOIN\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+([A-Za-z_][A-Za-z0-9_]*)").r
    pat.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        def indexed(t: String, view: String): Unit = {
          val df = resolver(spark, t)
          val schema = org.apache.spark.sql.types.StructType(
            df.schema.fields :+ org.apache.spark.sql.types.StructField(
              "__pos_idx", org.apache.spark.sql.types.LongType,
              nullable = false))
          spark.createDataFrame(
            df.rdd.zipWithIndex.map { case (r, i) =>
              Row.fromSeq(r.toSeq :+ i) }, schema)
            .createOrReplaceTempView(view)
        }
        indexed(m.group(1), "__pos_l")
        indexed(m.group(3), "__pos_r")
        s.substring(0, m.start) +
          s"FROM __pos_l ${m.group(2)} JOIN __pos_r ${m.group(4)} ON " +
          s"${m.group(2)}.__pos_idx = ${m.group(4)}.__pos_idx" +
          s.substring(m.end)
    }
  }

  /** `get_csr_v/e/w(N)` table functions (`pgq_scan.cpp:15-153`, column
    * names csrv/csre/csrw; the v array carries V+2 entries — offsets plus
    * two guard slots holding the edge count). */
  private def rewriteCsrCalls(q: String): String = {
    import org.apache.spark.sql.functions.{col, lit}
    val pat = "(?i)\\bget_csr_([vew])\\s*\\(\\s*(\\d+)\\s*\\)".r
    var out = q
    var m = pat.findFirstMatchIn(out)
    var n = 0
    while (m.isDefined && n < 16) {
      n += 1
      val kind = m.get.group(1).toLowerCase
      val id = m.get.group(2).toLong
      val snap = csrs.getOrElse(id,
        throw GraphAnalysisException(s"CSR with id $id does not exist"))
      val view = s"__csr_${kind}_$id"
      val df = kind match {
        case "v" =>
          val ecount = snap.edges.count()
          snap.csrOffsets.orderBy("rowid")
            .select(col("offset").as("csrv"))
            .unionAll(Seq(ecount, ecount).toDF("csrv"))
        case "e" => snap.csrEdges.select(col("dst").as("csre"))
        case "w" => snap.csrWeights.select(col("w").as("csrw"))
      }
      df.createOrReplaceTempView(view)
      out = out.substring(0, m.get.start) + view + out.substring(m.get.end)
      m = pat.findFirstMatchIn(out)
    }
    out
  }

  /** The canonical CSR-construction statement (`csr_creation.cpp`; every
    * reference test builds CSRs with this exact boilerplate): parse the
    * graph tables and keys out of the FROM/JOIN clause and build a
    * [[graft.graph.GraphSnapshot]] under the given csr id. */
  private def createCsr(stmt: String): Unit = {
    val idRe = "(?is)CREATE_CSR_EDGE\\s*\\(\\s*(\\d+)\\s*,".r
    val id = idRe.findFirstMatchIn(stmt).map(_.group(1).toLong).getOrElse(
      throw SkipStatement("unparsed CREATE_CSR_EDGE (no csr id)"))
    val fromRe = ("(?is)FROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+k\\s+JOIN\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+a\\s+on\\s+a\\.([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*=\\s*k\\.([A-Za-z_][A-Za-z0-9_]*)\\s+JOIN\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s+c\\s+on\\s+c\\.([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*=\\s*k\\.([A-Za-z_][A-Za-z0-9_]*)\\s*$").r
    val m = fromRe.findFirstMatchIn(stmt).getOrElse(
      throw SkipStatement("unparsed CREATE_CSR_EDGE join boilerplate"))
    val (etab, vtab, vkey, skey, dkey) =
      (m.group(1), m.group(2), m.group(3), m.group(4), m.group(7))
    // optional 8th argument after k.rowid: the weight expression — a
    // literal (type decides int vs double) or an edge column
    val wRe = "(?is)k\\.rowid\\s*,\\s*([^)\\s]+)\\s*\\)\\s*as\\s+temp".r
    val weight = wRe.findFirstMatchIn(stmt).map(_.group(1))
    var edf = resolver(spark, etab)
    val wCol = weight.map { w =>
      if (w.matches("\\d+")) {
        edf = edf.withColumn("__w",
          org.apache.spark.sql.functions.lit(w.toLong)); "__w"
      } else if (w.matches("\\d+\\.\\d+")) {
        edf = edf.withColumn("__w",
          org.apache.spark.sql.functions.lit(w.toDouble)); "__w"
      } else w.stripPrefix("k.")
    }
    val snap = _root_.graft.graph.Snapshot.build(spark,
      resolver(spark, vtab), vkey, edf, skey, dkey, wCol)
    csrs.remove(id).foreach(_.unpersist())
    csrs(id) = snap
  }

  /** `COPY (<query>) TO '<path>'` / `COPY <table> TO '<path>'` — a single
    * CSV file like DuckDB writes (driver-side; replay fixtures are tiny). */
  private def copyTo(stmt: String): Unit = {
    val qRe = "(?is)^COPY\\s*\\((.*)\\)\\s*TO\\s*'([^']+)'\\s*(.*)$".r
    val tRe = ("(?is)^COPY\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+TO\\s*'([^']+)'" +
      "\\s*(.*)$").r
    val (df, path, opts) = stmt match {
      case qRe(q, p, o) =>
        val q2 = if (q.trim.toUpperCase.startsWith("FROM"))
          s"SELECT * ${q.trim}" else q
        (g.sqlGraph(rewriteReadCsv(rewriteCsrCalls(q2))), p, o)
      case tRe(t, p, o) => (resolver(spark, t).drop("__rowid"), p, o)
      case _ => throw SkipStatement(s"unparsed COPY: ${stmt.take(50)}")
    }
    // `(HEADER FALSE)` / `(HEADER 0)` suppress the header row; DuckDB's
    // CSV COPY writes one by default
    val header = !opts.toUpperCase.matches("(?s).*HEADER\\s+(FALSE|0).*")
    writtenCsv(path) = header
    val rows = df.collect()
    val cols = df.columns
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      if (header) out.println(cols.mkString(","))
      rows.foreach { r =>
        out.println((0 until r.length).map { i =>
          val v = r.get(i)
          if (v == null) ""
          else {
            val s = v.toString
            if (s.contains(",") || s.contains("\"") || s.contains("\n"))
              "\"" + s.replace("\"", "\"\"") + "\""
            else s
          }
        }.mkString(","))
      }
    } finally out.close()
  }

  /** EXPLAIN [ANALYZE] — compile (and for what was ANALYZE, run) the inner
    * statement; the plan text itself is engine-specific. */
  private def explain(stmt: String): Unit = {
    val inner0 = stmt.replaceFirst("(?i)^EXPLAIN\\s+", "").trim
    if (inner0.toUpperCase.startsWith("COPY")) { copyTo(inner0); return }
    val inner = if (inner0.toUpperCase.startsWith("FROM"))
      s"SELECT * $inner0" else inner0
    // force full planning; result rows are irrelevant to `statement ok`
    g.sqlGraph(rewriteReadCsv(rewriteCsrCalls(inner)))
      .queryExecution.executedPlan
    ()
  }

  private val reservedNames = Set("group", "select", "from", "where",
    "order", "table", "join", "union", "all", "and", "or", "not")

  /** `PRAGMA create_vertex_table(edges, src, dst, name, idCol)`
    * (`create_vertex_table.test`). */
  private def pragmaCreateVertexTable(stmt: String): Unit = {
    val re = ("(?is)PRAGMA\\s+CREATE_VERTEX_TABLE\\s*\\(\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\)").r
    val m = re.findFirstMatchIn(stmt).getOrElse(
      throw GraphAnalysisException(
        s"""syntax error at or near "${stmt.split("[(,)]").map(_.trim)
          .find(t => reservedNames.contains(t.toLowerCase))
          .getOrElse(stmt.take(20))}""""))
    val (etab, srcC, dstC, name, idC) =
      (m.group(1), m.group(2), m.group(3), m.group(4), m.group(5))
    if (reservedNames.contains(name.toLowerCase))
      throw GraphAnalysisException(s"""syntax error at or near "$name"""")
    if (tables.contains(name.toLowerCase))
      throw GraphAnalysisException(
        s"""Table with name "$name" already exists!""")
    val edges = try resolver(spark, etab)
      catch {
        case _: Exception => throw GraphAnalysisException(
          s"Table with name $etab does not exist!")
      }
    if (!edges.columns.exists(_.equalsIgnoreCase(srcC)) ||
        !edges.columns.exists(_.equalsIgnoreCase(dstC)))
      throw GraphAnalysisException(
        s"Column $srcC or $dstC not found in table $etab")
    val df = _root_.graft.ddl.Introspect
      .deriveVertexTable(edges, srcC, dstC, idC)
    registerTable(name, df)
  }

  /** `ALTER TABLE t RENAME [COLUMN] a TO b | RENAME TO t2 | ADD COLUMN c
    * type | DROP [COLUMN] c` over the mini store. */
  private def alterTable(stmt: String): Unit = {
    val renameCol = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      "RENAME\\s+(?:COLUMN\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s+TO\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*$").r
    val renameTab = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      "RENAME\\s+TO\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$").r
    val addCol = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+ADD" +
      "\\s+(?:COLUMN\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s+([A-Za-z0-9_()]+)" +
      "\\s*$").r
    val dropCol = ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+" +
      "DROP\\s+(?:COLUMN\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*$").r
    def existing(t: String): DataFrame = tables.getOrElse(t.toLowerCase,
      throw GraphAnalysisException(s"Table $t does not exist"))
    stmt match {
      case renameTab(t, t2) =>
        val df = existing(t)
        tables.remove(t.toLowerCase); spark.catalog.dropTempView(t)
        registerTable(t2, df.drop("__rowid"))
      case renameCol(t, a, b) =>
        replaceTable(t, existing(t).withColumnRenamed(a, b))
      case addCol(t, c, tpe) =>
        replaceTable(t, existing(t).withColumn(c,
          org.apache.spark.sql.functions.lit(null).cast(sparkType(tpe))))
      case dropCol(t, c) =>
        replaceTable(t, existing(t).drop(c))
      case _ => throw SkipStatement(s"unparsed ALTER: ${stmt.take(50)}")
    }
  }

  private def replaceTable(name: String, df: DataFrame): Unit = {
    tables(name.toLowerCase) = df
    df.drop("__rowid").createOrReplaceTempView(name)
  }

  /** Registers `df` as table `name`, appending the hidden `__rowid`
    * insertion-order column (DuckDB's rowid pseudo-column; the resolver
    * exposes it to the PGQ compiler while the temp view stays clean so
    * `SELECT *` matches DuckDB, which hides rowid from stars). */
  private def registerTable(name: String, df0: DataFrame,
      startRowid: Long = 0L): Unit = {
    val df = if (df0.columns.contains("__rowid")) df0
      else {
        val schema = org.apache.spark.sql.types.StructType(
          df0.schema.fields :+ org.apache.spark.sql.types.StructField(
            "__rowid", org.apache.spark.sql.types.LongType, nullable = false))
        spark.createDataFrame(
          df0.rdd.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ (startRowid + i)) }, schema)
      }
    val pinned = df.localCheckpoint()
    tables(name.toLowerCase) = pinned
    pinned.drop("__rowid").createOrReplaceTempView(name)
  }

  /** `import database 'dir'` — the reference test corpus loads its LDBC
    * SNB sample this way (`load.sql` COPY per parquet). Spark analogue:
    * register every parquet in the directory as a temp view named by
    * file basename (case-insensitive resolution matches the COPY names). */
  private def importDatabase(stmt: String): Unit = {
    val m = "'([^']+)'".r.findFirstMatchIn(stmt).getOrElse(
      throw SkipStatement(s"unparsed import database: ${stmt.take(50)}"))
    val dir0 = new java.io.File(m.group(1))
    val dir = if (dir0.isAbsolute) dir0
      else new java.io.File("/root/reference", m.group(1))
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty)
      throw SkipStatement(s"import database: no parquet under $dir")
    files.foreach { f =>
      val name = f.getName.stripSuffix(".parquet")
      // rowids in file order — DuckDB's COPY-load insertion order
      registerTable(name, spark.read.parquet(f.getPath))
      keyReg.register(name, TableKeys())
    }
  }

  /** Compat view of the reference's `__duckpgq_internal` catalog table
    * (DDL `src/duckpgq_state.cpp:5-32`): one row per registered
    * vertex/edge table, with the source/destination key columns the
    * tests introspect. */
  private def registerInternalView(): Unit = {
    val names = g.registry.list(spark)
    val rows = names.flatMap { n =>
      val pg = g.registry.get(spark, n)
      val tableByLabel = pg.vertexTables.map(v =>
        v.label.toLowerCase -> v.tableName).toMap
      pg.vertexTables.map(v =>
        Row(n, v.tableName, v.label, true,
          null, null, null, null, null, null,
          v.discriminator.orNull, v.subLabels,
          "memory", "main", null, null, null, null,
          v.properties, v.properties)) ++
        pg.edgeTables.map(e =>
          Row(n, e.tableName, e.label, false,
            tableByLabel.getOrElse(e.srcLabel.toLowerCase, e.srcLabel),
            e.srcRefKeys, e.srcKeys,
            tableByLabel.getOrElse(e.dstLabel.toLowerCase, e.dstLabel),
            e.dstRefKeys, e.dstKeys,
            e.discriminator.orNull, e.subLabels,
            "memory", "main", "memory", "main", "memory", "main",
            e.properties, e.properties))
    }
    val arr = ArrayType(StringType)
    // the reference's 20-column layout, duckpgq_state.cpp:5-32
    val schema = StructType(Seq(
      StructField("property_graph", StringType),
      StructField("table_name", StringType),
      StructField("label", StringType),
      StructField("is_vertex_table", BooleanType),
      StructField("source_table", StringType),
      StructField("source_pk", arr),
      StructField("source_fk", arr),
      StructField("destination_table", StringType),
      StructField("destination_pk", arr),
      StructField("destination_fk", arr),
      StructField("discriminator", StringType),
      StructField("sub_labels", arr),
      StructField("catalog", StringType),
      StructField("schema", StringType),
      StructField("source_catalog", StringType),
      StructField("source_schema", StringType),
      StructField("destination_catalog", StringType),
      StructField("destination_schema", StringType),
      StructField("properties", arr),
      StructField("column_aliases", arr)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .createOrReplaceTempView("__duckpgq_internal")
  }

  // ------------------------------------------------------- CREATE TABLE

  private val ident = "([A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\")"
  private def unq(s: String): String =
    if (s.startsWith("\"") && s.endsWith("\"")) s.substring(1, s.length - 1)
    else s

  private val createRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?TABLE\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?" + ident + "\\s*\\((.*)\\)\\s*$").r

  private def createTable(stmt: String): Unit = stmt match {
    case createRe(orReplace, name0, body) =>
      val name = unq(name0)
      if (orReplace == null && tables.contains(name.toLowerCase))
        throw GraphAnalysisException(
          s"Table with name \"$name\" already exists!")
      val fields = mutable.ArrayBuffer.empty[StructField]
      var pk = Seq.empty[String]
      val fks = mutable.ArrayBuffer.empty[ForeignKeySpec]
      splitTopLevel(body, ',').map(_.trim).filter(_.nonEmpty).foreach { c =>
        val cu = c.toUpperCase
        if (cu.startsWith("PRIMARY KEY")) {
          pk = identsIn(c.substring(c.indexOf('(')))
        } else if (cu.startsWith("FOREIGN KEY")) {
          val m = ("(?is)FOREIGN\\s+KEY\\s*\\(([^)]*)\\)\\s*REFERENCES\\s+" +
            ident + "\\s*\\(([^)]*)\\)").r
            .findFirstMatchIn(c).getOrElse(
              throw SkipStatement(s"unparsed constraint: $c"))
          fks += ForeignKeySpec(identsIn(m.group(1)), unq(m.group(2)),
            identsIn(m.group(3)))
        } else if (cu.startsWith("UNIQUE") || cu.startsWith("CHECK")) {
          () // no engine effect in replay
        } else {
          val cm = ("(?s)^" + ident + "\\s*(.*)$").r.findFirstMatchIn(c)
            .getOrElse(throw SkipStatement(s"unparsed column: $c"))
          val colName = unq(cm.group(1))
          val rest = cm.group(2).trim
          val tpe = sparkType(
            if (rest.isEmpty) "STRING" else rest.split("\\s+")(0))
          fields += StructField(colName, tpe)
          if (cu.contains("PRIMARY KEY")) pk = Seq(colName)
          val rm = ("(?is)REFERENCES\\s+" + ident + "\\s*" +
            "\\(([^)]*)\\)").r.findFirstMatchIn(c)
          rm.foreach { m =>
            fks += ForeignKeySpec(Seq(colName), unq(m.group(1)),
              identsIn(m.group(2)))
          }
        }
      }
      // the reference's binder refuses an FK whose target has no PK
      // (create_pg_with_pk_fk.test: "Failed to create foreign key…")
      fks.foreach { fk =>
        val targetPk = keyReg.get(fk.refTable).map(_.pk).getOrElse(Nil)
        if (targetPk.isEmpty)
          throw GraphAnalysisException(
            "Failed to create foreign key: there is no primary key or " +
              s"unique constraint for referenced table \"${fk.refTable}\"")
      }
      val schema = StructType(fields.toSeq :+
        StructField("__rowid", LongType, nullable = false))
      val df = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      tables(name.toLowerCase) = df
      df.drop("__rowid").createOrReplaceTempView(name)
      keyReg.register(name, TableKeys(pk, fks.toSeq))
    case _ =>
      // CREATE TABLE t [(col, …)] AS <query|FROM 'file'> — evaluate and
      // register (`create_vertex_table.test:56` renames parquet columns
      // through the column list)
      val asRe = "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?" +
        "(?:TEMP(?:ORARY)?\\s+)?TABLE\\s+" + ident +
        "\\s*(\\([^)]*\\))?\\s*AS\\s+(.*)$"
      asRe.r.findFirstMatchIn(stmt) match {
        case Some(m) =>
          val raw = m.group(3).trim
          val body = if (raw.startsWith("(") && raw.endsWith(")") &&
              balancedWithout(raw)) raw.substring(1, raw.length - 1).trim
            else raw
          val q = if (body.toUpperCase.startsWith("FROM"))
            s"SELECT * $body" else body
          var df = g.sqlGraph(rewriteReadCsv(rewriteCsrCalls(q)))
          if (m.group(2) != null) df = df.toDF(identsIn(m.group(2)): _*)
          registerTable(unq(m.group(1)), df)
          keyReg.register(unq(m.group(1)), TableKeys())
        case None => throw SkipStatement(
          s"unparsed CREATE TABLE: ${stmt.take(60)}")
      }
  }

  private def dropTable(stmt: String): Unit = {
    val name = unq(stmt.split("\\s+").last)
    tables.remove(name.toLowerCase)
    keyReg.drop(name)
    spark.catalog.dropTempView(name)
  }

  // -------------------------------------------------------- INSERT INTO

  private val insertRe =
    ("(?is)^INSERT\\s+INTO\\s+" + ident + "\\s*" +
      "(\\([^)]*\\))?\\s*VALUES\\s*(.*)$").r

  private def insert(stmt: String): Unit = stmt match {
    case insertRe(name0, colsOpt, valuesSql) =>
      val name = unq(name0)
      val existing = tables.getOrElse(name.toLowerCase,
        throw GraphAnalysisException(s"Table $name does not exist"))
      val schema = StructType(existing.schema.filterNot(_.name == "__rowid"))
      val cols: Seq[String] =
        if (colsOpt == null) schema.fieldNames.toSeq
        else identsIn(colsOpt)
      val incoming = spark.sql(s"SELECT * FROM VALUES $valuesSql")
      val renamed = incoming.toDF(cols.map(c => c): _*)
      import org.apache.spark.sql.functions.{col => fcol, lit}
      val aligned = renamed.select(schema.fields.map { f =>
        if (cols.exists(_.equalsIgnoreCase(f.name)))
          fcol(s"`${cols.find(_.equalsIgnoreCase(f.name)).get}`")
            .cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
      appendRows(name, existing, aligned)
    case _ =>
      // query-form INSERT: `INSERT INTO t (SELECT …)` / `INSERT INTO t
      // SELECT …` / `INSERT INTO t FROM …` — evaluated through the same
      // graph-aware SQL path
      val qm = ("(?is)^INSERT\\s+INTO\\s+" + ident + "\\s+(.*)$").r
        .findFirstMatchIn(stmt)
          .filter { m =>
            val q = m.group(2).trim.stripPrefix("(").trim.toUpperCase
            q.startsWith("SELECT") || q.startsWith("FROM") ||
              q.startsWith("WITH")
          }
      qm match {
        case Some(m) =>
          val name = unq(m.group(1))
          val existing = tables.getOrElse(name.toLowerCase,
            throw GraphAnalysisException(s"Table $name does not exist"))
          // strip one WRAPPING paren pair only when it encloses the whole
          // query (`INSERT INTO t (SELECT …)`), never a trailing `)` that
          // belongs to the query text (`… from range(0, 5000)`)
          val raw = m.group(2).trim
          val sql0 = if (raw.startsWith("(") && raw.endsWith(")") &&
              balancedWithout(raw)) raw.substring(1, raw.length - 1).trim
            else raw
          val sql = if (sql0.toUpperCase.startsWith("FROM"))
            s"SELECT * $sql0" else sql0
          val incoming = g.sqlGraph(rewriteCsrCalls(sql))
          import org.apache.spark.sql.functions.{col => fcol}
          val fields = existing.schema.fields.filterNot(_.name == "__rowid")
          val aligned = incoming.toDF(fields.map(_.name).toIndexedSeq: _*)
            .select(fields.map(f =>
              fcol(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
          appendRows(name, existing, aligned)
        case None => throw SkipStatement(
          s"unparsed INSERT: ${stmt.take(60)}")
      }
  }

  /** Appends `aligned` (no `__rowid`) to `existing`, continuing the
    * insertion-order rowid sequence. */
  private def appendRows(name: String, existing: DataFrame,
      aligned: DataFrame): Unit = {
    val start: Long = if (existing.isEmpty) 0L
      else existing.agg(org.apache.spark.sql.functions.max("__rowid"))
        .head.getLong(0) + 1L
    val schema = StructType(aligned.schema.fields :+
      StructField("__rowid", LongType, nullable = false))
    val withId = spark.createDataFrame(
      aligned.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (start + i)) }, schema)
    val updated = existing.unionByName(withId).localCheckpoint()
    tables(name.toLowerCase) = updated
    updated.drop("__rowid").createOrReplaceTempView(name)
  }

  // ------------------------------------------------------------ helpers

  /** True when the outermost parens of `s` pair with each other (so
    * stripping both yields balanced text). */
  private def balancedWithout(s: String): Boolean = {
    var depth = 0
    var idx = 0
    for (c <- s) {
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0 && idx < s.length - 1)
        return false }
      idx += 1
    }
    depth == 0
  }

  private def identsIn(parens: String): Seq[String] =
    parens.replaceAll("[()]", " ").split(",").map(s => unq(s.trim))
      .filter(_.nonEmpty).toSeq

  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    for (c <- s) c match {
      case '(' => depth += 1; cur += c
      case ')' => depth -= 1; cur += c
      case `sep` if depth == 0 => out += cur.toString; cur.clear()
      case _ => cur += c
    }
    out += cur.toString
    out.toSeq
  }

  private def sparkType(t: String): DataType = t.toUpperCase match {
    case "BIGINT" | "INT8" | "LONG" | "HUGEINT" => LongType
    case "INTEGER" | "INT" | "INT4" | "SIGNED" => IntegerType
    case "SMALLINT" | "INT2" => ShortType
    case "TINYINT" | "INT1" => ByteType
    case "VARCHAR" | "TEXT" | "STRING" | "CHAR" => StringType
    case "DOUBLE" | "FLOAT8" | "REAL" | "FLOAT" => DoubleType
    case "BOOLEAN" | "BOOL" => BooleanType
    case "DATE" => DateType
    case "TIMESTAMP" | "DATETIME" => TimestampType
    case "DECIMAL" | "NUMERIC" => DecimalType(38, 18)
    case other if other.startsWith("DECIMAL") => DecimalType(38, 18)
    case other if other.startsWith("VARCHAR") => StringType
    case _ => StringType
  }
}
