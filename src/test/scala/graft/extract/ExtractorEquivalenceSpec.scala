package graft.extract

import graft.GraftSpec
import graft.sources.{ExpectedKg, PageGen}
import org.apache.spark.sql.functions._

/** The pipeline's extractor (TypedExtractor) must produce EXACTLY the quads
  * of the independent plain-Scala oracle (ExpectedKg.pageQuads), page by
  * page: same detection, same argmax tie-breaks, same alias-site namespace,
  * same bnode ids, same per-page dedup. */
class ExtractorEquivalenceSpec extends GraftSpec {
  import spark.implicits._

  private val cols = Seq("url", "s", "p", "oLex", "oKind", "oDtype", "oLang", "g")

  test("TypedExtractor == ExpectedKg, per url") {
    val pages = PageGen.snapshot(spark, 250, 0).cache()
    val typed = TypedExtractor.pageQuads(pages.toDF())
      .select(cols.map(col): _*)
      .as[(String, String, String, String, Int, String, String, String)]
      .collect().toSet
    val oracle = pages.collect().toSeq.flatMap { p =>
      ExpectedKg.pageQuads(p).map(q => (p.url, q.s, q.p, q.oLex, q.oKind, q.oDtype, q.oLang, q.g))
    }.toSet
    val onlyTyped = typed diff oracle
    val onlyOracle = oracle diff typed
    assert(onlyTyped.isEmpty && onlyOracle.isEmpty,
      s"onlyTyped=${onlyTyped.take(3)} onlyOracle=${onlyOracle.take(3)}")
    assert(typed.map(_._1).size == pages.count(), "every page contributes quads")
    pages.unpersist()
  }
}
