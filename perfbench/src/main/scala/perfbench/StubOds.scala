package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import graft.core.EndpointCatalog
import graft.ingest.{EdFiClient, HttpTransport}

/** An in-process Ed-Fi ODS: serves generated rows through the
  * [[HttpTransport]] seam, so silver reaches disk through
  * `EdFiClient.extractAll` exactly as a real pull writes it (one
  * `<endpoint>_<page>.json` per page) without opening a socket. */
final class StubOds(rows: Map[String, Seq[Js.Raw]]) extends HttpTransport {
  val apiUrl = "http://ods.invalid/api"
  val pages = new AtomicLong
  val bytes = new AtomicLong

  private val Paged = """.*/data/v3/[^/]+/([^/?]+)(/deletes)?\?limit=(\d+)&offset=(\d+).*""".r

  def get(url: String, headers: Map[String, String]): (Int, String) = url match {
    case `apiUrl` =>
      (200, """{"version":"5.3","dataModels":[{"name":"Ed-Fi","version":"3.3.1-b"}]}""")
    case Paged(endpoint, deletes, limit, offset) =>
      val body =
        if (deletes != null) "[]"
        else rows.getOrElse(endpoint, Nil).slice(offset.toInt, offset.toInt + limit.toInt)
          .map(_.s).mkString("[", ",", "]")
      if (body != "[]") { pages.incrementAndGet(); bytes.addAndGet(body.length.toLong) }
      (200, body)
    case _ => (404, "")
  }

  def post(url: String, headers: Map[String, String], form: Map[String, String]): (Int, String) =
    (200, """{"access_token":"bench-token","expires_in":3600}""")
}

object StubOds {
  /** Namespace-qualified ODS path of a silver endpoint (tpdm endpoints live
    * under their own namespace in the extraction census). */
  def odsPath(endpoint: String): String =
    EndpointCatalog.extractionEndpoints.find(_.endsWith("/" + endpoint))
      .getOrElse(s"ed-fi/$endpoint")

  /** Pull every generated endpoint of one year into `silverRoot` through the
    * public ingest client. Returns (pages, bytes) served. */
  def extract(rows: Map[String, Seq[Js.Raw]], silverRoot: Path, year: String): (Long, Long) = {
    val ods = new StubOds(rows)
    new EdFiClient(ods, ods.apiUrl, "bench", "secret")
      .extractAll(rows.keys.toSeq.sorted.map(odsPath), silverRoot, year)
    (ods.pages.get, ods.bytes.get)
  }
}
