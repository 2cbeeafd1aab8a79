package graft.agent

import java.io.{EOFException, IOException, InputStream}

import scala.collection.mutable.ArrayBuffer

/** HTTP/1.1 head and Content-Length body framing: how [[HttpPooledTransport]]
  * reads a reply and [[graft.service.HttpProtectionServer]] reads a request,
  * so there is one copy of the line, header and length parsing for both
  * ends. Every length in a head is the peer's word, so every read here is
  * bounded: a line by [[MaxLineBytes]], a head by [[MaxHeaderLines]], and a
  * body's memory by the bytes that have arrived.
  */
private[graft] object HttpFraming {

  /** A head that cannot be framed. `status` is what a server answers it
    * with: 431 for a head over the limits, 400 for anything else.
    */
  final class MalformedHttpException(message: String, val status: Int = 400)
      extends IOException(message)

  /** The longest head line read, in bytes. */
  final val MaxLineBytes = 8 * 1024

  /** The most header lines read after a start line. */
  final val MaxHeaderLines = 100

  /** The most a Content-Length makes a reader allocate ahead of the bytes
    * that have arrived.
    */
  final val BodyChunk = 1 << 20

  /** One head line without its CR LF (a bare LF also ends it), read as
    * ISO-8859-1. Throws an `EOFException` if the stream ends before the
    * line does, and a 431 [[MalformedHttpException]] for a line over
    * [[MaxLineBytes]].
    */
  def readLine(in: InputStream): String = {
    val buf = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c == -1) throw new EOFException("connection closed by peer")
      if (c != '\r') {
        if (buf.length == MaxLineBytes)
          throw new MalformedHttpException(s"head line over $MaxLineBytes bytes", 431)
        buf.append(c.toChar)
      }
      c = in.read()
    }
    buf.toString
  }

  /** The header lines after a start line, up to the blank line, as
    * (name, value) pairs in arrival order, each value trimmed. A 431
    * [[MalformedHttpException]] for more than [[MaxHeaderLines]] lines, a
    * 400 for a line that is not `name: value`.
    */
  def readHeaders(in: InputStream): Seq[(String, String)] = {
    val headers = ArrayBuffer.empty[(String, String)]
    var line = readLine(in)
    while (line.nonEmpty) {
      if (headers.length == MaxHeaderLines)
        throw new MalformedHttpException(s"more than $MaxHeaderLines header lines", 431)
      val idx = line.indexOf(':')
      val name = if (idx > 0) line.substring(0, idx) else ""
      if (name.isEmpty || name.exists(_ <= ' '))
        throw new MalformedHttpException(s"malformed header line: '$line'")
      headers += name -> line.substring(idx + 1).trim
      line = readLine(in)
    }
    headers.toSeq
  }

  /** A Content-Length or status code: decimal digits only, at most
    * `Int.MaxValue`; None for anything else.
    */
  def decimal(s: String): Option[Int] =
    if (s.isEmpty || s.length > 10 || !s.forall(c => c >= '0' && c <= '9')) None
    else Some(s.toLong).filter(_ <= Int.MaxValue).map(_.toInt)

  /** The body length `headers` declare: 0 when none does. Throws a
    * [[MalformedHttpException]] when a Content-Length is not digits only or
    * two of them disagree.
    */
  def contentLength(headers: Seq[(String, String)]): Int = {
    val declared = headers.collect { case (k, v) if k.equalsIgnoreCase("Content-Length") => v }
    def malformed =
      new MalformedHttpException(s"malformed Content-Length: '${declared.mkString(", ")}'")
    val lengths = declared.map(v => decimal(v).getOrElse(throw malformed))
    if (lengths.distinct.size > 1) throw malformed
    lengths.headOption.getOrElse(0)
  }

  /** Read a `length`-byte body from `in`. The length is only the peer's
    * word, so memory follows the bytes that arrive: a body over
    * [[BodyChunk]] is read chunk by chunk and joined once it is all there.
    * Throws an `EOFException` if the stream ends first.
    */
  def readBody(in: InputStream, length: Int): Array[Byte] = {
    val chunks = ArrayBuffer.empty[Array[Byte]]
    var got = 0
    while (got < length || chunks.isEmpty) {
      val chunk = new Array[Byte](math.min(length - got, BodyChunk))
      if (in.readNBytes(chunk, 0, chunk.length) < chunk.length)
        throw new EOFException(s"connection closed mid-body ($length bytes announced)")
      chunks += chunk
      got += chunk.length
    }
    if (chunks.size == 1) chunks.head
    else {
      val body = new Array[Byte](length)
      var off = 0
      chunks.foreach { c => System.arraycopy(c, 0, body, off, c.length); off += c.length }
      body
    }
  }
}
