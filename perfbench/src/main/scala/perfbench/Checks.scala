package perfbench

import java.io.{ByteArrayInputStream, File}
import java.nio.charset.StandardCharsets
import java.text.NumberFormat
import java.time.LocalDate
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.w3c.dom.{Document, Element}

/** One client's expected figure content: its query count and the status
  * classes it has in the window. */
final case class ClientAnswer(client: String, count: Long, classes: Set[String])

/** The generator's answer for one date window, computed with SQL over the
  * generated database (see gen.py). */
final case class WindowAnswer(days: Int, start: LocalDate, end: LocalDate,
                              total: Long, allowed: Long, blocked: Long,
                              uniqueClients: Long, top10: Seq[String],
                              classes: Set[String], clients: Seq[ClientAnswer]) {
  def classesOf(client: String): Set[String] =
    clients.find(_.client == client).map(_.classes).getOrElse(Set.empty)
}

final case class Answers(now: Long, windows: Map[Int, WindowAnswer])

object Answers {
  def load(path: String): Answers = {
    val root = new ObjectMapper().readTree(new File(path))
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    val windows = root.get("windows").properties().asScala.map { e =>
      val w = e.getValue
      val days = e.getKey.toInt
      days -> WindowAnswer(days,
        LocalDate.parse(w.get("start").asText), LocalDate.parse(w.get("end").asText),
        w.get("total").asLong, w.get("allowed").asLong, w.get("blocked").asLong,
        w.get("unique_clients").asLong, strings(w.get("top10")),
        strings(w.get("classes")).toSet,
        w.get("clients").elements().asScala.map { c =>
          ClientAnswer(c.get("client").asText, c.get("count").asLong,
            strings(c.get("classes")).toSet)
        }.toSeq)
    }.toMap
    Answers(root.get("now").asLong, windows)
  }
}

/** Output checks. Each returns None when the output is right, else a
  * one-line reason. */
object Checks {

  private def grouped(n: Long): String = NumberFormat.getIntegerInstance(Locale.US).format(n)

  private def pct(part: Long, total: Long): String =
    String.format(Locale.US, "%.1f", Double.box(if (total > 0) part.toDouble / total * 100 else 0.0))

  /** The value of the stat card titled `title` on the dashboard page. */
  def card(html: String, title: String): Option[String] = {
    val m = ("<h3>" + java.util.regex.Pattern.quote(title) + """</h3><p class="big">([^<]*)</p>""").r
    m.findFirstMatchIn(html).map(_.group(1))
  }

  /** The dashboard page against the window's answer: its query-count
    * cards, then each of its charts (see [[dashboardCharts]]). */
  def dashboard(html: String, w: WindowAnswer): Option[String] = {
    val expected = Seq(
      "Total Queries" -> grouped(w.total),
      "Allowed Queries" -> s"${grouped(w.allowed)} (${pct(w.allowed, w.total)}%)",
      "Blocked Queries" -> s"${grouped(w.blocked)} (${pct(w.blocked, w.total)}%)",
      "Total Unique Clients" -> grouped(w.uniqueClients))
    val cards = expected.collectFirst {
      case (title, want) if !card(html, title).contains(want) =>
        s"dashboard card '$title' is ${card(html, title).getOrElse("missing")}, expected $want"
    }
    cards.orElse {
      val got = charts(html)
      val want = dashboardCharts(w)
      if (got.map(_._1) != want.map(_._1))
        Some(s"dashboard charts are ${got.map(_._1)}, expected ${want.map(_._1)}")
      else got.zip(want).iterator.flatMap { case ((caption, figure), (_, check)) =>
        parse(figure).fold(Some(_), check).map(problem => s"dashboard chart '$caption': $problem")
      }.nextOption()
    }
  }

  /** Each chart of `/dashboard` in page order: its caption and the check
    * of the series it draws under the window. Line series are the titles
    * of the polylines; a stacked bar's tooltip starts with its client; a
    * domain bar or heatmap cell is one titled rect. */
  def dashboardCharts(w: WindowAnswer): Seq[(String, Document => Option[String])] = {
    def same(what: String, got: Set[String], want: Set[String]) =
      if (got == want) None else Some(s"$what $got, expected $want")
    def lines(want: Set[String]): Document => Option[String] =
      d => same("series", titles(d, "polyline").toSet, want)
    def rects(n: Int): Document => Option[String] = { d =>
      val k = titles(d, "rect").size
      if (k == n) None else Some(s"$k titled bars or cells, expected $n")
    }
    val heatmap = rects(7 * 24)
    Seq(
      "Queries over time (hourly, by status)" -> lines(w.classes),
      "Top clients (stacked by status)" -> (d =>
        same("clients", titles(d, "rect").map(_.takeWhile(_ != ' ')).toSet, w.top10.toSet)),
      "Top allowed domains" -> rects(10),
      "Top blocked domains" -> rects(10),
      "Client activity over time (top 10 clients, hourly)" -> lines(w.top10.toSet),
      "Daily query volume (anomalies ringed)" -> lines(w.classes),
      "Mean reply time by date (ms)" -> lines(Set("avg_reply_ms", "min_reply_ms", "max_reply_ms")),
      "Activity heatmap — all queries" -> heatmap,
      "Activity heatmap — blocked" -> heatmap,
      "Activity heatmap — allowed" -> heatmap)
  }

  /** The charts of a page: each `<figure>` with its caption. */
  def charts(html: String): Seq[(String, String)] =
    """(?s)<figure><figcaption>(.*?)</figcaption>.*?</figure>""".r.findAllMatchIn(html)
      .map(m => m.group(1) -> m.group(0)).toSeq

  /** `/clients` against the window's top-10 list, in order. */
  def clients(json: String, w: WindowAnswer): Option[String] = {
    val got = new ObjectMapper().readTree(json).elements().asScala.map(_.asText).toSeq
    if (got == w.top10) None else Some(s"/clients returned $got, expected ${w.top10}")
  }

  /** A figure as XML. Fails when it is not well-formed or holds no
    * single <svg>. */
  def parse(figure: String): Either[String, Document] =
    try {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      val doc = f.newDocumentBuilder().parse(
        new ByteArrayInputStream(figure.getBytes(StandardCharsets.UTF_8)))
      if (doc.getElementsByTagName("svg").getLength != 1) Left("figure has no single <svg>")
      else Right(doc)
    } catch { case e: Exception => Left(s"figure is not well-formed: ${e.getMessage}") }

  /** The <title> texts of a figure's `tag` elements that carry one. */
  private def titles(doc: Document, tag: String): Seq[String] = {
    val nodes = doc.getElementsByTagName(tag)
    (0 until nodes.getLength).flatMap { i =>
      val title = nodes.item(i).asInstanceOf[Element].getElementsByTagName("title")
      if (title.getLength == 0) None else Some(title.item(0).getTextContent)
    }
  }

  /** Series names of a figure: the titles of its polylines. */
  def seriesNames(figure: String): Either[String, Set[String]] =
    parse(figure).map(titles(_, "polyline").toSet)

  /** Expected series of an interactive figure under a window. */
  def expectedSeries(endpoint: String, client: Option[String], w: WindowAnswer): Set[String] =
    (endpoint, client) match {
      case ("activity", None) => w.top10.toSet
      case ("activity", Some(c)) => if (w.classesOf(c).nonEmpty) Set(c) else Set.empty
      case (_, None) => w.classes
      case (_, Some(c)) => w.classesOf(c)
    }

  /** An interactive figure against the window the cache holds. */
  def figure(body: String, endpoint: String, client: Option[String],
             w: WindowAnswer): Option[String] =
    seriesNames(body) match {
      case Left(err) => Some(s"/$endpoint: $err")
      case Right(got) =>
        val want = expectedSeries(endpoint, client, w)
        if (got == want) None
        else Some(s"/$endpoint client=${client.getOrElse("-")} series $got, expected $want")
    }

  /** Rows a figure was drawn from: one point per collected row, plus one
    * ring per collected anomaly. */
  def rowsDrawn(figure: String): Int = {
    val points = """points="([^"]*)"""".r.findAllMatchIn(figure)
      .map(_.group(1).trim).filter(_.nonEmpty).map(_.split(' ').length).sum
    points + """class="anomaly"""".r.findAllMatchIn(figure).size
  }
}
