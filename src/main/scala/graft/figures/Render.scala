package graft.figures

/** CLI entry for the figure layer: render the static dashboard from a
  * testdata SF directory. Usage:
  *   runMain graft.figures.Render [sfDir] [out.html]
  */
object Render {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "dashboard.html"
    val spark = graft.Session.local("graft-render")
    val prep = graft.Preprocess.preprocessEvents(graft.Tables.events(spark, sfDir))
    println(s"[render] wrote ${Figures.writeDashboard(prep, out)}")
    spark.stop()
  }
}
