package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SmtpAlerter

/** Single-connection scripted SMTP server; records commands + DATA. */
final class FakeSmtp extends AutoCloseable {
  val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
  val commands = scala.collection.mutable.ArrayBuffer.empty[String]
  val dataLines = scala.collection.mutable.ArrayBuffer.empty[String]
  val thread = new Thread(() => {
    val sock = server.accept()
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
    val out = new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8")
    def reply(s: String): Unit = { out.write(s + "\r\n"); out.flush() }
    reply("220 fake ESMTP")
    var inData = false
    var done = false
    while (!done) {
      val line = in.readLine()
      if (line == null) done = true
      else if (inData) {
        if (line == ".") { inData = false; reply("250 ok: queued") }
        else dataLines += line
      } else {
        commands += line
        line.takeWhile(_ != ' ') match {
          case "HELO" | "MAIL" | "RCPT" => reply("250 ok")
          case "DATA" => inData = true; reply("354 go ahead")
          case "QUIT" => reply("221 bye"); done = true
          case _ => reply("502 what")
        }
      }
    }
    sock.close()
  })
  thread.setDaemon(true)
  thread.start()
  def port: Int = server.getLocalPort
  def close(): Unit = server.close()
}

/** Drives [[SmtpAlerter]] against an in-process fake SMTP server (one
  * accept, scripted reply codes), asserting the full command sequence and
  * the delivered message — headers, blank separator, dot-stuffed body,
  * dot terminator — i.e. the protocol behavior of the reference's
  * `send_email` (`utils.py:11-30`) minus the TLS/auth deployment layer.
  */
class SmtpSpec extends AnyFunSuite {

  test("alert speaks the SMTP sequence and delivers headers + dot-stuffed body") {
    val srv = new FakeSmtp
    try {
      new SmtpAlerter("127.0.0.1", srv.port, "graft@pipeline", "oncall@example")
        .alert("Abnormal trip", "duration=-3\n.hidden dot line\nfee gap=9.99")
      srv.thread.join(5000)
      assert(srv.commands.toList == List(
        "HELO graft",
        "MAIL FROM:<graft@pipeline>",
        "RCPT TO:<oncall@example>",
        "DATA",
        "QUIT"))
      assert(srv.dataLines.toList == List(
        "From: graft@pipeline",
        "To: oncall@example",
        "Subject: Abnormal trip",
        "",
        "duration=-3",
        "..hidden dot line", // transparency applied on the wire…
        "fee gap=9.99"))
      // …and a receiving MTA would un-stuff back to the original body
      val unstuffed = srv.dataLines.drop(4)
        .map(l => if (l.startsWith("..")) l.drop(1) else l)
      assert(unstuffed.mkString("\n") == "duration=-3\n.hidden dot line\nfee gap=9.99")
    } finally srv.close()
  }

  test("CRLF in header values cannot inject headers or terminate DATA early") {
    val srv = new FakeSmtp
    try {
      // a subject carrying an injection attempt: extra header + early
      // dot-terminator + smuggled body — all must fold into ONE header
      new SmtpAlerter("127.0.0.1", srv.port, "graft@pipeline", "oncall@example")
        .alert("Alert\r\nBcc: evil@example\r\n.\r\nsmuggled", "body line")
      srv.thread.join(5000)
      val subject = srv.dataLines.filter(_.startsWith("Subject: "))
      assert(subject.toList == List("Subject: Alert Bcc: evil@example . smuggled"))
      assert(!srv.dataLines.exists(_.startsWith("Bcc:")), "injected header leaked")
      assert(srv.dataLines.last == "body line", "DATA terminated early")
    } finally srv.close()
  }

  test("a rejected recipient surfaces as an error, not a silent drop") {
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      val sock = server.accept()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      val out = new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8")
      def reply(s: String): Unit = { out.write(s + "\r\n"); out.flush() }
      reply("220 fake")
      in.readLine(); reply("250 ok") // HELO
      in.readLine(); reply("250 ok") // MAIL FROM
      in.readLine(); reply("550 no such user") // RCPT
      sock.close()
    })
    t.setDaemon(true); t.start()
    try {
      val e = intercept[IllegalArgumentException] {
        new SmtpAlerter("127.0.0.1", server.getLocalPort, "a@b", "nobody@c")
          .alert("s", "b")
      }
      assert(e.getMessage.contains("550"))
    } finally server.close()
  }
}
