package graft.streaming

import org.apache.spark.sql.DataFrame

/** Pluggable micro-batch sinks — the rebuild of the reference's shared
  * JDBC-append writer (`spark_streaming.py:116-124`) with the hard-wired
  * Postgres dependency lifted behind a trait (SURVEY.md §2.2 K1).
  *
  * The reference appends each epoch, so a replayed epoch lands twice
  * (at-least-once, SURVEY.md §2.9); [[ParquetSink]] keeps that contract.
  * The sinks `StreamMain` runs, [[IdempotentParquetSink]] and
  * [[IdempotentJdbcSink]], key each write on its epoch, so a replay
  * replaces the first write instead.
  *
  * `write` runs exactly one Spark action over `df`. `StreamRunner`'s
  * detectors count their rows inside that action (an `Observation` on
  * `df`) instead of running the batch twice, so the count is only known
  * once the action has run: a sink that runs none fails the detector
  * epoch, and a sink that runs several re-executes the batch plan each
  * time. Every sink here does one `df.write` or `df.collect`.
  */
trait BatchSink extends Serializable {

  /** Write one micro-batch for logical table `table` at epoch `epochId`,
    * in exactly one Spark action over `df`.
    */
  def write(df: DataFrame, epochId: Long, table: String): Unit
}

/** Parquet-append sink: at-least-once, like the reference's JDBC append. */
final class ParquetSink(baseDir: String) extends BatchSink {
  def write(df: DataFrame, epochId: Long, table: String): Unit =
    df.write.mode("append").parquet(s"$baseDir/$table")
}

/** Idempotent parquet sink: each epoch overwrites its own
  * `epoch=<id>` partition directory, so a replayed micro-batch (restart
  * between sink write and checkpoint commit) rewrites identical data
  * instead of appending duplicates — upgrading the reference's
  * at-least-once contract (SURVEY.md §2.9 "exactly-once: NOT achieved")
  * to effective exactly-once for deterministic batches. `StreamMain`'s
  * sink when its config has no `[database]` section; [[IdempotentJdbcSink]]
  * is the JDBC equivalent.
  */
final class IdempotentParquetSink(baseDir: String) extends BatchSink {
  def write(df: DataFrame, epochId: Long, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$baseDir/$table/epoch=$epochId")
}

/** Idempotent JDBC sink — the JDBC twin of [[IdempotentParquetSink]]:
  * every row carries its epoch in an `_epoch` column, and a write first
  * DELETEs the epoch's rows, then appends them. A micro-batch replayed
  * after a crash between sink write and checkpoint commit therefore
  * rewrites identical data instead of appending duplicates — upgrading
  * the reference's at-least-once JDBC append (`spark_streaming.py:116-124`,
  * SURVEY.md §2.9) to effective exactly-once for deterministic batches.
  * The delete runs on its own connection BEFORE the append: if the append
  * dies part-way, the next replay's delete clears the partial epoch first.
  * `StreamMain` writes through it when its config has a `[database]`
  * section. Executed for real against embedded Derby (`JdbcSpec`,
  * `CrashReplaySpec`); the reference's target is Postgres, which no
  * offline-resolvable artifact provides. Spark's dialect registry maps the
  * column types inside `df.write.jdbc` (`PostgresDialect`: StringType →
  * TEXT where Derby gets CLOB, DoubleType → FLOAT8 where Derby gets
  * DOUBLE), so no code here branches on the target.
  */
final class IdempotentJdbcSink(val url: String, val props: java.util.Properties) extends BatchSink {
  def write(df: DataFrame, epochId: Long, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      // Spark's JDBC writer quotes COLUMN names but not the table name.
      // Quote _epoch with the DRIVER'S identifier quote (ANSI
      // double-quote on Derby/Postgres/H2, backtick on default-mode
      // MySQL — where a hard-coded "…" is a syntax error with SQLState
      // 42000, which is NOT an undefined-table state: once the table
      // existed, EVERY epoch's delete would fail, rethrow via the
      // metadata probe, and wedge the sink into a permanent replay
      // loop). A blank/space quote string means "no quoting supported"
      // — fall back to the bare name, which every listed dialect parses.
      val q = Option(conn.getMetaData.getIdentifierQuoteString)
        .map(_.trim).filter(_.nonEmpty).getOrElse("")
      try st.executeUpdate(s"DELETE FROM $table WHERE ${q}_epoch$q = $epochId")
      catch {
        // ONLY the missing-table case may be swallowed (first epoch, before
        // the append auto-creates the table). Swallowing every SQLException
        // would let a transient delete failure (lock timeout, dropped
        // connection) silently skip dedup — the following append would then
        // DUPLICATE the epoch's rows, breaking the effective-exactly-once
        // contract. The KNOWN undefined-table SQLStates short-circuit to
        // the auto-create; anything else checks existence via metadata:
        // if the table exists, the failure was real — propagate so the
        // replay retries the whole write.
        case e: java.sql.SQLException
            if UndefinedTableStates.contains(e.getSQLState) =>
          // The dialect said it outright: undefined table FOR THIS
          // CONNECTION'S resolution path (Postgres 42P01, Derby 42X05,
          // H2/MySQL/SQLServer 42S02). First epoch — fall through to the
          // auto-creating append. This fast path matters in multi-tenant
          // deployments: a same-named table in some OTHER tenant's
          // schema would make the metadata probe below report "exists",
          // rethrow the genuine missing-table error, and wedge the
          // first-epoch auto-create into a permanent replay loop — but
          // the database already distinguished the cases for us.
        case e: java.sql.SQLException =>
          // Unknown dialect / unknown SQLState: fall back to metadata.
          // The lookup must match the database's identifier fold for the
          // UNQUOTED name the DELETE used: Derby folds to upper case,
          // Postgres (the reference's production target,
          // spark_streaming.py:116-124) to lower. Ask the driver which,
          // falling back to probing both folds plus the literal — a
          // wrong-case probe would report an existing table missing and
          // swallow a REAL delete failure (lock timeout, dropped
          // connection), duplicating the epoch on replay.
          val md = conn.getMetaData
          val candidates =
            if (md.storesUpperCaseIdentifiers()) Seq(table.toUpperCase(java.util.Locale.ROOT))
            else if (md.storesLowerCaseIdentifiers()) Seq(table.toLowerCase(java.util.Locale.ROOT))
            else Seq(
              table,
              table.toUpperCase(java.util.Locale.ROOT),
              table.toLowerCase(java.util.Locale.ROOT)).distinct
          // getTables treats its name argument as a LIKE pattern: an
          // unescaped '_' in names like event_counts matches ANY
          // character, so a similarly-named unrelated table would fake
          // "exists", rethrow the genuine first-epoch missing-table
          // error, and the auto-create path could never run — a
          // permanent replay loop. Escape '_'/'%' (and the escape
          // string itself) with the driver's search-string escape.
          val esc = md.getSearchStringEscape
          def literal(name: String): String =
            if (esc == null || esc.isEmpty) name
            else name.flatMap {
              case c if c == '_' || c == '%' || esc.indexOf(c) >= 0 => esc + c
              case c => c.toString
            }
          // Scope the probe to the CONNECTION'S schema first — a null
          // schema pattern searches every schema, so a same-named table
          // in some other tenant's schema would fake "exists" and wedge
          // the first-epoch auto-create into a permanent replay loop.
          // (Schema-QUALIFIED table names are a deployment concern: the
          // unquoted DELETE above doesn't split them either.)
          val schemaPattern =
            Option(try conn.getSchema catch { case _: Throwable => null })
              .map(literal)
              .orNull
          def probe(schema: String): Boolean = candidates.exists { name =>
            val tables = md.getTables(null, schema, literal(name), null)
            try tables.next() finally tables.close()
          }
          // getSchema reports only the FIRST schema of a multi-schema
          // resolution path (Postgres search_path), so a table the
          // unquoted DELETE resolved via a LATER path entry would probe
          // "missing" here and a REAL delete failure (lock timeout,
          // dropped connection) would be swallowed — duplicating the
          // epoch on replay. On a scoped no-match, fall back to an
          // unscoped probe and rethrow if the table exists ANYWHERE
          // visible: the residual cost is a loud, retried failure when
          // only an out-of-path tenant owns the name (deployment fix:
          // schema-qualify the sink table), which is the right side of
          // the availability-vs-duplication trade for an at-least-once
          // sink that advertises idempotent replay.
          val exists = probe(schemaPattern) || (schemaPattern != null && probe(null))
          if (exists) throw e
      } finally st.close()
    } finally conn.close()
    df.withColumn("_epoch", org.apache.spark.sql.functions.lit(epochId))
      .write.mode("append").jdbc(url, table, props)
  }

  /** SQLStates that mean "undefined table" in the dialects this sink
    * documents: Postgres `42P01` (undefined_table), Derby `42X05`
    * (table does not exist), and the ODBC-inherited `42S02`
    * (H2/MySQL/SQLServer base-table-not-found).
    */
  private val UndefinedTableStates = Set("42P01", "42X05", "42S02")
}

/** Collects batches in memory (perfbench's checked runs and the specs). */
final class CollectingSink extends BatchSink {
  val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[org.apache.spark.sql.Row])]
  def write(df: DataFrame, epochId: Long, table: String): Unit =
    batches.synchronized { batches += ((epochId, table, df.collect())) }
}

/** Side-effect alert channel — rebuild of the reference's SMTP e-mail
  * alerts (`utils.py:11-30`, invoked from `spark_streaming.py:172-182,
  * 217-227`) behind a trait so tests can collect instead of send.
  */
trait Alerter extends Serializable {
  def alert(subject: String, body: String): Unit
}

/** Driver-side log alert: `StreamMain`'s alerter when its config has no
  * `[email]` section ([[SmtpAlerter]] mails the alert instead).
  */
final class LoggingAlerter extends Alerter {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[LoggingAlerter])
  def alert(subject: String, body: String): Unit = log.warn(s"ALERT: $subject — $body")
}

/** Concrete SMTP alerter — the executable twin of the reference's
  * `send_email` (`utils.py:11-30`): speaks the plain SMTP command
  * sequence (HELO / MAIL FROM / RCPT TO / DATA / QUIT) directly over a
  * socket so it carries zero mail-library dependencies. STARTTLS and
  * AUTH (the reference's `starttls()`/`login()` lines) are a deployment
  * concern — the engine owns the protocol framing and message shape.
  * Transparency (dot-stuffing) is applied to the body so payload lines
  * beginning with '.' cannot terminate DATA early. `StreamMain`'s alerter
  * when its config has an `[email]` section.
  */
final class SmtpAlerter(host: String, port: Int, from: String, to: String) extends Alerter {
  def alert(subject: String, body: String): Unit = {
    // Header injection guard: dot-stuffing protects the BODY, but a CR/LF
    // inside subject/from/to would inject extra SMTP headers or terminate
    // DATA early. Fold any CR/LF in header values to a single space.
    def hdr(s: String): String = s.replaceAll("[\r\n]+", " ")
    val (fromH, toH, subjH) = (hdr(from), hdr(to), hdr(subject))
    // Bounded I/O: the alerter runs inside foreachBatch, so a half-dead
    // SMTP endpoint (TCP accepts, greeting never comes) must fail the
    // epoch loudly instead of blocking the streaming query forever.
    val sock = new java.net.Socket()
    try {
      sock.connect(new java.net.InetSocketAddress(host, port), 10000)
      sock.setSoTimeout(10000)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      val out = new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8")
      def expect(code: String): Unit = {
        var line = in.readLine()
        // skip multi-line replies ("250-..." continuation lines)
        while (line != null && line.length >= 4 && line.charAt(3) == '-') line = in.readLine()
        require(line != null && line.startsWith(code), s"SMTP: expected $code, got $line")
      }
      def send(cmd: String, code: String): Unit = {
        out.write(cmd + "\r\n"); out.flush(); expect(code)
      }
      expect("220")
      send("HELO graft", "250")
      send(s"MAIL FROM:<$fromH>", "250")
      send(s"RCPT TO:<$toH>", "250")
      send("DATA", "354")
      val bodyLines = body.split("\n", -1).map(l => if (l.startsWith(".")) "." + l else l)
      val msg = (Seq(s"From: $fromH", s"To: $toH", s"Subject: $subjH", "") ++ bodyLines)
        .mkString("", "\r\n", "\r\n.")
      send(msg, "250")
      send("QUIT", "221")
    } finally sock.close()
  }
}
