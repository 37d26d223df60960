package pushbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import graft.sources.SqsPublisher

/** What one push published, as counts and order-independent hashes. */
final case class Published(
    messages: Long, bytes: Long, billed: Long, nodes: Long, relations: Long,
    nodeHash: Long, relationHash: Long, invalid: Long, firstError: String,
    transportNanos: Long)

/** A `SqsPublisher.Transport` that checks every message as it is sent
  * and keeps only counts: each body must be at most 256,000 UTF-8 bytes,
  * carry the expected group id and parse as a `{"nodes": […],
  * "relations": […]}` envelope of flat string-valued rows. Rows are
  * folded into order-independent hashes (see [[Expected.rowHash]]); no
  * body is kept. Sends from executor task closures reach the same
  * counters through a JVM-global registry keyed by `id`, because task
  * closures are serialized copies even in local mode. */
final class Verifying(groupId: String, val id: String = java.util.UUID.randomUUID().toString)
    extends SqsPublisher.Transport {
  Verifying.registry.putIfAbsent(id, new Verifying.Counters)

  override def send(queueUrl: String, body: String, gid: String): Unit = {
    val t0 = System.nanoTime()
    val c = Verifying.registry.get(id)
    val bytes = body.getBytes("UTF-8").length.toLong
    val err =
      if (bytes > SqsPublisher.MaxMessageBytes) Some(s"$bytes bytes > ${SqsPublisher.MaxMessageBytes}")
      else if (gid != groupId) Some(s"group id $gid")
      else None
    val parsed = try Right(Envelope.parse(body)) catch { case e: IllegalArgumentException => Left(e.getMessage) }
    c.messages.incrementAndGet()
    c.bytes.addAndGet(bytes)
    c.billed.addAndGet((bytes + 65535) / 65536)
    (err, parsed) match {
      case (None, Right(e)) =>
        c.nodes.addAndGet(e.nodes); c.nodeHash.addAndGet(e.nodeHash)
        c.relations.addAndGet(e.relations); c.relationHash.addAndGet(e.relationHash)
      case (e1, e2) =>
        c.invalid.incrementAndGet()
        c.firstError.compareAndSet(null, e1.orElse(e2.left.toOption).get)
    }
    c.nanos.addAndGet(System.nanoTime() - t0)
  }

  def published: Published = {
    val c = Verifying.registry.get(id)
    Published(c.messages.get, c.bytes.get, c.billed.get, c.nodes.get, c.relations.get,
      c.nodeHash.get, c.relationHash.get, c.invalid.get, c.firstError.get, c.nanos.get)
  }

  def release(): Unit = Verifying.registry.remove(id)
}

object Verifying {
  private final class Counters {
    val messages, bytes, billed, nodes, relations, nodeHash, relationHash, invalid, nanos =
      new AtomicLong
    val firstError = new AtomicReference[String](null)
  }
  private val registry = new ConcurrentHashMap[String, Counters]
}

/** Streaming check of one SQS envelope: shape, row field names, and
  * the rows' counts and hashes. */
object Envelope {
  final case class Summary(nodes: Long, nodeHash: Long, relations: Long, relationHash: Long)

  val NodeFields: Set[String] = Set("KEY", "name", "LABEL")
  val RelationFields: Set[String] =
    Set("START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "REVERSE_TYPE", "TYPE")

  def parse(s: String): Summary = {
    val p = new Parser(s)
    p.expect('{')
    p.key("nodes")
    val (n, nh) = p.rows(NodeFields)
    p.expect(',')
    p.key("relations")
    val (r, rh) = p.rows(RelationFields)
    p.expect('}')
    p.end()
    Summary(n, nh, r, rh)
  }

  private final class Parser(s: String) {
    private var i = 0
    private def fail(msg: String) = throw new IllegalArgumentException(s"$msg at char $i")
    private def ws(): Unit = while (i < s.length && " \t\r\n".indexOf(s.charAt(i)) >= 0) i += 1
    private def peek: Char = { ws(); if (i < s.length) s.charAt(i) else fail("unexpected end") }

    def expect(c: Char): Unit = if (peek == c) i += 1 else fail(s"expected '$c'")
    def end(): Unit = { ws(); if (i != s.length) fail("trailing text") }
    def key(k: String): Unit = { if (string() != k) fail(s"expected key $k"); expect(':') }

    def string(): String = {
      expect('"')
      val b = new java.lang.StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) fail("dangling escape")
          s.charAt(i + 1) match {
            case 'n' => b.append('\n'); i += 2
            case 'r' => b.append('\r'); i += 2
            case 't' => b.append('\t'); i += 2
            case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case e @ ('"' | '\\' | '/') => b.append(e); i += 2
            case e => fail(s"bad escape \\$e")
          }
        } else if (c < ' ') fail("raw control character")
        else { b.append(c); i += 1 }
      }
      expect('"')
      b.toString
    }

    private def value(): String =
      if (peek == 'n' && s.startsWith("null", i)) { i += 4; null } else string()

    /** `[{…}, …]` of rows with exactly `fields`: count and hash sum. */
    def rows(fields: Set[String]): (Long, Long) = {
      var n = 0L
      var h = 0L
      expect('[')
      if (peek == ']') i += 1
      else {
        var more = true
        while (more) {
          expect('{')
          val row = Seq.newBuilder[(String, String)]
          var inRow = true
          while (inRow) {
            val k = string(); expect(':'); row += (k -> value())
            if (peek == ',') i += 1 else { expect('}'); inRow = false }
          }
          val r = row.result()
          if (r.size != fields.size || r.map(_._1).toSet != fields)
            fail(s"row fields ${r.map(_._1).mkString(",")}")
          n += 1; h += Expected.rowHash(r)
          if (peek == ',') i += 1 else { expect(']'); more = false }
        }
      }
      (n, h)
    }
  }
}
