package graft.sinks

import java.util.Properties

import org.apache.spark.sql.DataFrame

/** Load-stage sinks — the reference's K-series operators
  * (`/root/reference/dags/my_data_pipeline.py:91-140,163-197`).
  *
  * The reference hand-rolls DDL synthesis (K1), batched INSERT
  * transactions (K2), per-key table routing (K3) and connection
  * management (K4) over psycopg2; Spark's JDBC writer already does all
  * four (DDL via JdbcUtils.schemaString, batched PreparedStatement per
  * partition, `batchsize`/`isolationLevel` options), so each maps to
  * configuration rather than code. Failure semantics deliberately
  * differ: the reference silently skips the load when the connection
  * fails (`:171`); we fail fast (SURVEY.md §2.1).
  */
object Sinks {

  /** K1+K2+K4: append into a JDBC table, schema-derived DDL. The
    * `columnTypes` hook reproduces the reference's explicit type map
    * (e.g. VARCHAR(50), my_data_pipeline.py:101) when an external
    * system needs it. */
  def jdbc(df: DataFrame, url: String, table: String,
      user: String, password: String,
      columnTypes: Option[String] = None,
      batchSize: Int = 10000): Unit = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    val w = df.write.mode("append")
      .option("batchsize", batchSize.toString)
    columnTypes.fold(w)(ct => w.option("createTableColumnTypes", ct))
      .jdbc(url, table, props)
  }

  /** K3: one JDBC table per key — `air_quality_{pollutant}` routing. */
  def jdbcPerKey(tables: Map[String, DataFrame], url: String,
      tablePrefix: String, user: String, password: String): Unit =
    tables.foreach { case (key, df) =>
      jdbc(df, url, s"$tablePrefix$key", user, password)
    }

  /** Parquet lake sink — the scale-native replacement for per-key JDBC
    * tables: ONE table partitioned by the key column, giving partition
    * pruning instead of N physical tables. */
  def parquetPartitioned(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** K5: console sink. */
  def console(df: DataFrame, numRows: Int = 20): Unit =
    df.show(numRows, truncate = false)
}

/** F1+K6: the emailed describe() report becomes a pluggable trait —
  * the SMTP transport is an environment concern, not dataflow. */
trait ReportSink {
  def send(subject: String, body: String): Unit
}

/** Local stand-in for the reference's SMTP sink (K6): collect reports
  * in memory / print them. Tests assert on `sent`. */
final class ConsoleReportSink extends ReportSink {
  val sent = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  override def send(subject: String, body: String): Unit = {
    sent += ((subject, body))
    println(s"=== $subject ===\n$body")
  }
}

/** Records every (subject, body) pair while delegating to any real
  * transport, so callers can observe what was sent regardless of
  * whether reports went to console, SMTP, or an injected sink. */
final class RecordingReportSink(inner: ReportSink) extends ReportSink {
  val sent = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  override def send(subject: String, body: String): Unit = {
    sent += ((subject, body))
    inner.send(subject, body)
  }
}

/** K6 proper: the reference emails the describe() report over SMTP
  * (`/root/reference/dags/my_data_pipeline.py:178-197`, smtplib). No
  * mail library ships with Spark, so this is a minimal RFC 5321
  * client over a plain socket: HELO / MAIL FROM / RCPT TO / DATA with
  * dot-stuffing (RFC 5321 §4.5.2) and CRLF line endings. Plaintext
  * only — credentials/TLS are deployment concerns layered outside the
  * trait. Exercised in tests against an in-process stub SMTP server. */
final class SmtpReportSink(host: String, port: Int, from: String,
    to: Seq[String], timeoutMs: Int = 10000) extends ReportSink {
  import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
  import java.nio.charset.StandardCharsets.US_ASCII

  // Header values and envelope addresses are single-line by protocol;
  // an embedded CR/LF would let a caller inject extra headers or SMTP
  // commands, so reject rather than silently rewrite.
  private def requireNoCrlf(what: String, v: String): String = {
    require(!v.exists(c => c == '\r' || c == '\n'),
      s"$what must not contain CR/LF: ${v.take(40)}")
    v
  }
  requireNoCrlf("from address", from)
  to.foreach(requireNoCrlf("rcpt address", _))

  override def send(subject: String, body: String): Unit = {
    requireNoCrlf("subject", subject)
    val socket = new java.net.Socket()
    try {
      // A hung relay must not block the pipeline (send() sits inside
      // the app's withRetry wrapper): bound both connect and reads.
      socket.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
      socket.setSoTimeout(timeoutMs)
      val in = new BufferedReader(
        new InputStreamReader(socket.getInputStream, US_ASCII))
      val out = new BufferedWriter(
        new OutputStreamWriter(socket.getOutputStream, US_ASCII))
      def expect(codes: Int*): Unit = {
        // multiline replies continue while char 4 is '-' ("250-...")
        var line = in.readLine()
        while (line != null && line.length >= 4 && line.charAt(3) == '-')
          line = in.readLine()
        require(line != null && codes.exists(c => line.startsWith(c.toString)),
          s"unexpected SMTP reply: $line (wanted ${codes.mkString("/")})")
      }
      def cmd(s: String, codes: Int*): Unit = {
        out.write(s); out.write("\r\n"); out.flush(); expect(codes: _*)
      }
      expect(220)
      cmd("HELO graft", 250)
      cmd(s"MAIL FROM:<$from>", 250)
      to.foreach(r => cmd(s"RCPT TO:<$r>", 250, 251))
      cmd("DATA", 354)
      val lines = Seq(s"From: $from", s"To: ${to.mkString(", ")}",
        s"Subject: $subject", "") ++ body.split("\n", -1).toSeq
      lines.foreach { l =>
        out.write(if (l.startsWith(".")) "." + l else l) // dot-stuffing
        out.write("\r\n")
      }
      out.write(".\r\n"); out.flush(); expect(250)
      cmd("QUIT", 221)
    } finally socket.close()
  }
}
