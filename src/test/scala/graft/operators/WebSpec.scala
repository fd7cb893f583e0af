package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** URL normalization, registrable-domain extraction, per-domain caps. */
class WebSpec extends AnyFunSuite with SparkSpec {
  import testImplicits._

  private def norm(url: String): String =
    Web.normalizeUrl(Seq((1L, url)).toDF("id", "url"))
      .select("url_norm").head().getString(0)

  private def dom(url: String): String =
    Web.withRegistrableDomain(Seq((1L, url)).toDF("id", "url"))
      .select("domain").head().getString(0)

  test("normalize: case, default ports, fragments, tracking params, sort") {
    assert(norm("HTTPS://WWW.Example.COM:443/Path?b=2&utm_source=x&a=1#frag")
      == "https://www.example.com/Path?a=1&b=2")
    assert(norm("http://site.org:80/") == "http://site.org/")
    // non-default port survives; https keeps :80
    assert(norm("http://site.org:8080/x") == "http://site.org:8080/x")
    assert(norm("https://site.org:80/x") == "https://site.org:80/x")
    // empty path becomes /
    assert(norm("http://site.org") == "http://site.org/")
    // all params tracking -> no query at all
    assert(norm("http://a.de/p?utm_source=x&utm_medium=y&gclid=1&fbclid=2&msclkid=3")
      == "http://a.de/p")
    // path case is preserved (paths are case-sensitive), query order is not
    assert(norm("http://a.de/CaseSensitive?z=1&y=2") == "http://a.de/CaseSensitive?y=2&z=1")
  }

  test("registrable domain: one-level, two-level, deep subdomains, bare hosts") {
    assert(dom("https://www.example.com/x") == "example.com")
    assert(dom("https://a.b.c.example.co.uk/x") == "example.co.uk")
    assert(dom("http://example.de") == "example.de")
    assert(dom("http://deep.sub.example.com.au:8080/") == "example.com.au")
    // bare suffix and single label pass through
    assert(dom("http://co.uk/") == "co.uk")
    assert(dom("http://localhost/") == "localhost")
  }

  test("registrable domain: PSL wildcard and exception rules (published vectors)") {
    // publicsuffix.org's own checkPublicSuffix vectors for the *.ck/!www.ck
    // and *.kawasaki.jp/!city.kawasaki.jp rule families; where the PSL
    // answers null (host IS a public suffix) this operator passes the host
    // through unchanged (documented contract)
    assert(dom("http://b.test.ck/") == "b.test.ck") // *.ck: suffix is test.ck
    assert(dom("http://a.b.test.ck/") == "b.test.ck")
    assert(dom("http://www.ck/") == "www.ck") // !www.ck: suffix is just ck
    assert(dom("http://www.www.ck/") == "www.ck")
    assert(dom("http://test.ck/") == "test.ck") // bare wildcard suffix: passthrough
    assert(dom("http://foo.bd/") == "foo.bd") // *.bd, bare suffix
    assert(dom("http://x.foo.bd/") == "x.foo.bd")
    assert(dom("http://b.test.kawasaki.jp/") == "b.test.kawasaki.jp") // *.kawasaki.jp
    assert(dom("http://city.kawasaki.jp/") == "city.kawasaki.jp") // exception
    assert(dom("http://www.city.kawasaki.jp/") == "city.kawasaki.jp")
    // exception/wildcard rules must not disturb the ordinary families
    assert(dom("http://www.site.co.jp/") == "site.co.jp")
    assert(dom("http://www.example.com/") == "example.com")
  }

  test("scheme-less crawl entries normalize and domain-extract") {
    assert(norm("Example.COM:8080/Path?b=2&utm_source=x") == "example.com:8080/Path?b=2")
    assert(norm("example.com") == "example.com/")
    assert(dom("a.b.example.co.uk/deep/path") == "example.co.uk")
    assert(dom("example.com?q=1") == "example.com")
  }

  test("perDomainCap keeps at most cap rows per domain, deterministically") {
    val rows = (0L until 100L).map(i => (i, s"d${i % 4}.com"))
    val df = rows.toDF("doc_id", "domain")
    val out = Web.perDomainCap(df, cap = 7)
    val counts = out.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 7L))
    // stable across partitionings
    val out2 = Web.perDomainCap(df.repartition(13), cap = 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val out1 = out.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out1.sameElements(out2))
  }

  test("perDomainCap under-cap domains keep everything") {
    val df = Seq((1L, "a.com"), (2L, "a.com"), (3L, "b.com")).toDF("doc_id", "domain")
    assert(Web.perDomainCap(df, cap = 5).count() == 3)
  }

  test("normalized urls dedup what raw urls cannot") {
    val df = Seq(
      (1L, "HTTPS://Example.COM:443/a?x=1&utm_source=s"),
      (2L, "https://example.com/a?x=1"),
      (3L, "https://example.com/b")).toDF("doc_id", "url")
    val n = Web.normalizeUrl(df)
    assert(n.select("url").distinct().count() == 3)
    assert(n.select("url_norm").distinct().count() == 2)
  }
}
