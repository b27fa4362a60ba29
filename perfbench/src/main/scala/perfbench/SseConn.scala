package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** One SSE client connection to `GET /routes/{route}`, timed at each
  * step: connect → response headers → `:ok` → frames. Frames must
  * parse as `id: N\ndata: {json}\n\n`; anything else is a parse error. */
final class SseConn(port: Int, route: String, lastEventId: Option[Long],
                    since: Option[String]) {
  val connectNs: Long = System.nanoTime()
  private val conn = URI.create(s"http://127.0.0.1:$port/routes/$route" +
      since.map(s => "?since=" + URLEncoder.encode(s, "UTF-8")).getOrElse(""))
    .toURL.openConnection().asInstanceOf[HttpURLConnection]
  conn.setReadTimeout(20000)
  lastEventId.foreach(id => conn.setRequestProperty("Last-Event-ID", id.toString))
  val status: Int = conn.getResponseCode
  val headersNs: Long = System.nanoTime()
  private val in =
    if (status == 200) new BufferedReader(new InputStreamReader(conn.getInputStream, UTF_8), 1 << 16)
    else null
  var okNs = 0L
  var parseErrors = 0L

  /** Next frame's id, or -1 at end of stream or once `stop` holds
    * (checked per line; the server's heartbeats bound the wait). */
  def next(stop: => Boolean = false): Long = {
    var id = -1L
    var data = false
    while (true) {
      val line = in.readLine()
      if (line == null || stop) return -1L
      if (line.isEmpty) {
        if (id >= 0) {
          if (!data) parseErrors += 1
          return id
        }
      } else if (line.startsWith(":")) {
        if (line == ":ok") okNs = System.nanoTime()
      } else if (line.startsWith("id: ")) {
        id = line.substring(4).toLongOption.getOrElse { parseErrors += 1; -1L }
      } else if (line.startsWith("data: {") && line.endsWith("}") && id >= 0) {
        data = true
      } else parseErrors += 1
    }
    -1L
  }

  def close(): Unit = try conn.disconnect() catch { case _: Exception => () }
}
