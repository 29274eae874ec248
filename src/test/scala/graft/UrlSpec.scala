package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.functions.UrlCanon
import graft.operators.Url

class UrlSpec extends SparkSpec {

  private def canon(s: String): String = {
    val r = UrlCanon.canon(UTF8String.fromString(s))
    if (r == null) null else r.toString
  }
  private def host(s: String): String = {
    val r = UrlCanon.host(UTF8String.fromString(s))
    if (r == null) null else r.toString
  }

  test("planted URLs: every contract rule of the canonicalizer") {
    // scheme + host lowercase; path case preserved
    assert(canon("HTTP://WWW.Example.COM/Path") == "http://www.example.com/Path")
    // default ports stripped, non-default kept
    assert(canon("http://a.com:80/x") == "http://a.com/x")
    assert(canon("https://a.com:443/x") == "https://a.com/x")
    assert(canon("http://a.com:8080/x") == "http://a.com:8080/x")
    assert(canon("https://a.com:80/x") == "https://a.com:80/x") // not https default
    // empty path -> '/'; trailing slash dropped on non-root only
    assert(canon("http://a.com") == "http://a.com/")
    assert(canon("http://a.com/") == "http://a.com/")
    assert(canon("http://a.com/x/") == "http://a.com/x")
    // fragment dropped
    assert(canon("http://a.com/x#frag") == "http://a.com/x")
    assert(canon("http://a.com#frag") == "http://a.com/")
    // tracking params out (case-insensitive), others bytewise-sorted
    assert(canon("http://a.com/x?utm_source=s&b=2&UTM_campaign=c&a=1") ==
      "http://a.com/x?a=1&b=2")
    assert(canon("http://a.com/x?fbclid=F&gclid=G&msclkid=M") == "http://a.com/x")
    // bytewise sort: 'a=10' < 'a=2' < 'b=2'
    assert(canon("http://a.com/x?b=2&a=2&a=10") == "http://a.com/x?a=10&a=2&b=2")
    // value-less and empty parts
    assert(canon("http://a.com/x?flag&&a=1") == "http://a.com/x?a=1&flag")
    assert(canon("http://a.com/x?utm_only=1") == "http://a.com/x")
    // not a URL -> NULL
    assert(canon("no scheme here") == null)
    assert(canon("://missing.scheme/x") == null)
    assert(canon("http://") == null) // empty host
  }

  test("planted URLs: canonical host") {
    assert(host("HTTP://WWW.Example.COM:80/Path?q=1#f") == "www.example.com")
    assert(host("https://a.com:8443/x") == "a.com:8443") // non-default port kept
    assert(host("http://a.com") == "a.com")
    assert(host("plain text") == null)
  }

  test("SQL registration: graft_url_canon / graft_url_host resolve and agree") {
    import spark.implicits._
    val row = Seq("HTTP://A.com:80/x/?utm_s=1&b=2&a=1#z").toDF("u")
      .selectExpr("graft_url_canon(u) AS c", "graft_url_host(u) AS h")
      .collect().head
    assert(row.getString(0) == "http://a.com/x?a=1&b=2")
    assert(row.getString(1) == "a.com")
  }

  test("variant synthesis collapses exactly as designed") {
    val out = Url.urlCanon(spark, sfDir).collect()
    assert(out.length == 500 * Url.UrlVariants)
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rows) =>
      val canons = rows.sortBy(_.getAs[Int]("variant"))
        .map(r => Option(r.getAs[String]("canon_url")))
      // v0..v3 collapse to one canonical form; v4 distinct; v5 null
      assert(canons.take(4).distinct.size == 1)
      assert(canons(0).get ==
        s"http://host${id % Url.HostMod}.example/p${id % Url.PathMod}" +
          s"?a=${id % Url.ParamMod}&b=2")
      assert(canons(4).get == s"https://host${id % Url.HostMod}.example/")
      assert(canons(5).isEmpty)
    }
    // dedup: the https root URL groups every doc on the same host
    val dedup = Url.urlDedup(spark, sfDir).collect()
    val roots = dedup.filter(_.getAs[String]("canon_url").startsWith("https://"))
    assert(roots.length == Url.HostMod)
    roots.foreach { r =>
      assert(r.getAs[Long]("n_docs") > 1)
      assert(r.getAs[Long]("n_urls") == r.getAs[Long]("n_docs"))
    }
    // and the per-page canon groups exactly the 4 collapsing variants
    dedup.filterNot(_.getAs[String]("canon_url").startsWith("https://"))
      .foreach { r =>
        assert(r.getAs[Long]("n_urls") == 4 && r.getAs[Long]("n_docs") == 1)
      }
  }

  test("frontier index: save/load roundtrip primes the cache, no recompute") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{ArtifactCache, Url}
    val path = java.nio.file.Files.createTempDirectory("graft_frontier")
      .toString + "/frontier"
    val derived = Url.frontier(spark, sfDir).collect()
      .map(_.getString(0)).sorted
    ArtifactCache.save(spark, sfDir, "url_frontier", path)
    // simulate a restarted driver: drop the session cache, then LOAD
    ArtifactCache.invalidateDir(spark, sfDir)
    val loaded = ArtifactCache.load(spark, sfDir, "url_frontier", path)
      .asInstanceOf[DataFrame]
    // the loaded table IS the cache entry now — a consumer reads it
    // without re-canonicalizing the corpus (reference equality proves
    // no re-derivation can occur)
    assert(Url.frontier(spark, sfDir) eq loaded)
    assert(loaded.collect().map(_.getString(0)).sorted.sameElements(derived))
    // restore the derived artifacts for suites that run after this one
    ArtifactCache.invalidateDir(spark, sfDir)
  }
}
