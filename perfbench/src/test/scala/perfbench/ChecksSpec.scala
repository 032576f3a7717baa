package perfbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.figures.Figures

class ChecksSpec extends AnyFunSuite {

  private val window = WindowAnswer(31, LocalDate.parse("2025-12-01"), LocalDate.parse("2025-12-31"),
    total = 102300, allowed = 90295, blocked = 11033, uniqueClients = 30,
    top10 = (1 to 10).map(i => s"10.0.0.$i"), classes = Set("Allowed", "Blocked", "Other"),
    clients = Seq(ClientAnswer("10.0.0.1", 900, Set("Allowed", "Blocked")),
      ClientAnswer("10.0.0.2", 800, Set("Allowed"))))

  /** The cards the program renders for a stats dictionary with these counts. */
  private def cards(total: Long, allowed: Long, blocked: Long, clients: Long): String =
    Figures.statCards(Map(
      "total_queries" -> total, "allowed_count" -> allowed, "blocked_count" -> blocked,
      "allowed_pct" -> allowed.toDouble / total * 100,
      "blocked_pct" -> blocked.toDouble / total * 100, "unique_clients" -> clients))

  /** A page shaped like `Figures.dashboard` for the window: the cards,
    * then each chart drawing the series its check expects, or the
    * given clients on the client-activity chart. */
  private def page(statCards: String, activity: Seq[String] = window.top10): String = {
    val pts = Seq(0L -> 1.0, 3600000L -> 2.0)
    val classes = window.classes.toSeq.sorted
    def lines(title: String, names: Seq[String]) = Figures.lineChart(title, names.map(_ -> pts))
    def bars(title: String) = Figures.hbarChart(title, (1 to 10).map(i => s"d$i.example" -> i.toDouble))
    def heatmap(title: String) = Figures.heatmap(title, (1 to 7).map(d => s"day $d"),
      (0 to 23).map(h => s"$h:00"), Seq.fill(7)(Seq.fill(24)(1.0)))
    Figures.page("Pi-hole long-term stats", Seq(statCards,
      lines("Queries over time (hourly, by status)", classes),
      Figures.stackedBars("Top clients (stacked by status)", window.top10,
        classes.map(_ -> window.top10.map(_ => 1.0))),
      bars("Top allowed domains"),
      bars("Top blocked domains"),
      lines("Client activity over time (top 10 clients, hourly)", activity),
      lines("Daily query volume (anomalies ringed)", classes),
      lines("Mean reply time by date (ms)", Seq("avg_reply_ms", "min_reply_ms", "max_reply_ms")),
      heatmap("Activity heatmap — all queries"),
      heatmap("Activity heatmap — blocked"),
      heatmap("Activity heatmap — allowed")))
  }

  test("the dashboard check accepts cards and charts that match the answer") {
    assert(Checks.dashboard(page(cards(102300, 90295, 11033, 30)), window).isEmpty)
  }

  test("the dashboard check flags a chart with a series missing") {
    val problem = Checks.dashboard(page(cards(102300, 90295, 11033, 30),
      activity = window.top10.dropRight(1)), window)
    assert(problem.exists(_.contains("Client activity")), problem)
  }

  test("the dashboard check flags a missing chart") {
    val full = page(cards(102300, 90295, 11033, 30))
    val heatmaps = full.indexOf("<figure><figcaption>Activity heatmap")
    assert(Checks.dashboard(full.take(heatmaps), window).exists(_.contains("charts are")))
  }

  test("the dashboard check flags a wrong expected total") {
    val wrong = window.copy(total = window.total + 1)
    val problem = Checks.dashboard(cards(102300, 90295, 11033, 30), wrong)
    assert(problem.exists(_.contains("Total Queries")), problem)
  }

  test("the dashboard check flags a wrong blocked count and a missing card") {
    assert(Checks.dashboard(cards(102300, 90295, 11034, 30), window).exists(_.contains("Blocked")))
    assert(Checks.dashboard("<html></html>", window).exists(_.contains("missing")))
  }

  test("the client-list check compares the top 10 in order") {
    val json = window.top10.map(c => "\"" + c + "\"").mkString("[", ",", "]")
    assert(Checks.clients(json, window).isEmpty)
    val swapped = window.top10.reverse.map(c => "\"" + c + "\"").mkString("[", ",", "]")
    assert(Checks.clients(swapped, window).nonEmpty)
  }

  test("a figure must be well-formed and show exactly the expected series") {
    val pts = Seq(0L -> 1.0, 3600000L -> 2.0)
    val fig = Figures.lineChart("t", Seq("Allowed" -> pts, "Blocked" -> pts))
    assert(Checks.figure(fig, "queries", Some("10.0.0.1"), window).isEmpty)
    assert(Checks.figure(fig, "queries", None, window).nonEmpty) // Other is missing
    assert(Checks.figure(fig.dropRight(10), "queries", Some("10.0.0.1"), window)
      .exists(_.contains("well-formed")))
    assert(Checks.rowsDrawn(fig) == 4)
  }
}
