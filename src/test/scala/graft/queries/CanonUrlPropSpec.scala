package graft.queries

import org.scalacheck.{Gen, rng}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Property coverage for CurationOps.canonUrlExpr — the one expression
  * both the batch dedup_url and the streaming frontier dedup trust.
  * Two claims a fixture can't pin:
  *
  *  1. IDEMPOTENCE over adversarial URL-shaped strings (mixed-case
  *     schemes/hosts, stacked decorations, multiple fragments, utm
  *     params in every position, schemeless garbage): canon(canon(u))
  *     == canon(u). A canonicalizer that isn't idempotent makes
  *     stream-vs-batch dedup disagree depending on how many times a
  *     record passed through.
  *  2. VARIANT COLLAPSE: every decoration class the pipeline claims
  *     to normalize (case, :443, utm query, fragment, /index.html),
  *     stacked in any combination on a random base URL, canonicalizes
  *     to exactly the base's canonical form.
  *
  * Cases are generated with ScalaCheck generators (seeded — the run
  * is reproducible) and evaluated through the REAL Spark expression
  * in one job per property, not a Scala re-implementation, so the
  * property tests the expression that ships.
  */
class CanonUrlPropSpec extends AnyFunSuite with LocalSpark {

  private val seed0 = rng.Seed(42L)

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      seed0.reseed(i.toLong)))

  private def canonAll(urls: Seq[String]): Seq[(String, String, String)] = {
    import spark.implicits._
    urls.toDF("raw")
      .selectExpr("raw",
        s"${CurationOps.canonUrlExpr("raw")} AS c1")
      .selectExpr("raw", "c1", s"${CurationOps.canonUrlExpr("c1")} AS c2")
      .as[(String, String, String)].collect().toSeq
  }

  private val genSeg: Gen[String] = for {
    n <- Gen.choose(1, 6)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const('-'), 1 -> Gen.const('.')))
  } yield cs.mkString

  private val genHost: Gen[String] = for {
    parts <- Gen.choose(2, 4).flatMap(k => Gen.listOfN(k, genSeg))
    cased <- Gen.oneOf[String => String]((s: String) => s,
      (s: String) => s.toUpperCase(java.util.Locale.ROOT))
  } yield cased(parts.mkString("."))

  private val genPath: Gen[String] = for {
    k <- Gen.choose(0, 3)
    segs <- Gen.listOfN(k, genSeg)
  } yield segs.map("/" + _).mkString

  private val genAdversarial: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS", "hTtPs")
    host <- genHost
    port <- Gen.oneOf("", ":443", ":8080")
    path <- genPath
    idx <- Gen.oneOf("", "/index.html", "/index.html/index.html")
    q <- Gen.oneOf("", "?utm_source=a", "?x=1", "?x=1&utm_b=2",
      "?utm_a=1&utm_b=2", "?utm_a=1&x=2")
    frag <- Gen.oneOf("", "#f", "#a#b", "#utm_c=3")
    schemeless <- Gen.frequency(9 -> Gen.const(false), 1 -> Gen.const(true))
  } yield if (schemeless) host + path + q + frag
          else s"$scheme://$host$port$path$idx$q$frag"

  test("regex dots are literal and the bare default port collapses (review-caught)") {
    // the s-interpolation + SQL-literal double-unescape trap shipped a
    // dot-any that stripped /indexXhtml; and :443 with no path
    // survived the slash-anchored port rule
    val rows = canonAll(Seq(
      "https://h.example/a/indexXhtml",
      "https://h.example/a/index.html",
      "https://h.example:443",
      "https://h.example:443?utm_source=x",
      "https://h.example:443#frag"))
    val c = rows.map(r => r._1 -> r._2).toMap
    assert(c("https://h.example/a/indexXhtml") == "https://h.example/a/indexXhtml")
    assert(c("https://h.example/a/index.html") == "https://h.example/a")
    assert(c("https://h.example:443") == "https://h.example")
    assert(c("https://h.example:443?utm_source=x") == "https://h.example")
    assert(c("https://h.example:443#frag") == "https://h.example")
  }

  test("canonicalization is idempotent over adversarial URL shapes (500 cases)") {
    val urls = sample(genAdversarial, 500)
    assert(urls.size >= 400) // generator shouldn't be vacuous
    val rows = canonAll(urls)
    rows.foreach { case (raw, c1, c2) =>
      assert(c1 == c2, s"not idempotent: raw=$raw c1=$c1 c2=$c2")
      assert(c1.length <= raw.length + 1, s"canon grew: raw=$raw c1=$c1")
    }
  }

  test("every stacked decoration combo collapses to the base canonical (300 cases)") {
    // empty paths included deliberately: the bare default port
    // (https://host:443) must collapse too — a review-caught gap
    val genBase: Gen[(String, String)] = for {
      host <- genHost
      path <- genPath
    } yield (host.toLowerCase(java.util.Locale.ROOT), path)
    val bases = sample(genBase, 300)
    val cases = bases.zipWithIndex.flatMap { case ((host, path), i) =>
      val base = s"https://$host$path"
      val decorated = Seq(
        s"HTTPS://${host.toUpperCase(java.util.Locale.ROOT)}$path",
        s"https://$host:443$path",
        s"https://$host$path?utm_source=feed&utm_campaign=x",
        s"https://$host$path#section-$i",
        s"https://$host$path/index.html",
        s"HTTPS://${host.toUpperCase(java.util.Locale.ROOT)}:443$path/index.html#f")
      (base +: decorated).map(u => (s"g$i", u))
    }
    import spark.implicits._
    val collapsed = cases.toDF("grp", "raw")
      .selectExpr("grp", s"${CurationOps.canonUrlExpr("raw")} AS c")
      .groupBy("grp").agg(countDistinct("c").as("n"))
      .where(col("n") =!= 1L).count()
    assert(collapsed == 0L,
      s"$collapsed groups did not collapse to one canonical")
  }
}
