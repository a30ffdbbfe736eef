package graft
import org.apache.spark.sql.SparkSession

/** Plan-inspection aid: prints `.explain("formatted")` for the named
  * registered queries (all when none given). Usage:
  *   sbt "runMain graft.Explain <sfDir> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        println(s"========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    // `lex_build`: the lexical postings-BUILD subtree — a write-side plan
    // no declared query's explain can show: the one-shuffle shape
    // saveLexical/appendLexical write through
    if (only.contains("lex_build")) {
      val corpus = Tables.load(spark, sfDir, "documents")
        .where(!graft.ml.Retrieval.boundedIsQuery)
      println("========== lex_build (fused one-shuffle shape) ==========")
      graft.ml.LexIndex.bucketedPostingsOf(corpus, 64L).explain("formatted")
    }
    spark.stop()
  }
}
