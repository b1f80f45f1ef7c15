package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Pii

/** PII detect/mask semantics: pattern coverage, global replacement,
  * replacement ordering (email before IP before phone), and
  * non-interference with clean text. */
class PiiSpec extends AnyFunSuite with SparkTestSession {

  private def one(text: String, c: Column): Any = {
    import spark.implicits._
    Seq(text).toDF("text").select(c.as("v")).head.get(0)
  }

  // The composed built-in forms — the reference semantics the native
  // pii_scrub fuses (email, then IP, then phone when masking).
  private def emailCount(text: Column): Column = regexp_count(text, lit(Pii.EmailPattern))
  private def phoneCount(text: Column): Column = regexp_count(text, lit(Pii.PhonePattern))
  private def ipCount(text: Column): Column = regexp_count(text, lit(Pii.Ipv4Pattern))
  private def mask(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, Pii.EmailPattern, "<EMAIL>"),
        Pii.Ipv4Pattern, "<IP>"),
      Pii.PhonePattern, "<PHONE>")

  test("counts: each pattern family found, independently") {
    val t = "mail me at u1@mail2.example.com or call +1-555-0462 from 10.206.0.34 thanks"
    assert(one(t, emailCount(col("text"))) == 1)
    assert(one(t, phoneCount(col("text"))) == 1)
    assert(one(t, ipCount(col("text"))) == 1)
  }

  test("counts: multiple occurrences are all counted") {
    val t = "a@b.co c@d.org and 1.2.3.4 5.6.7.8 9.10.11.12"
    assert(one(t, emailCount(col("text"))) == 2)
    assert(one(t, ipCount(col("text"))) == 3)
  }

  test("mask replaces every match with its sentinel") {
    val t = "u1@mail2.example.com +1-555-0462 10.206.0.34 plain words"
    assert(one(t, mask(col("text"))) ==
      "<EMAIL> <PHONE> <IP> plain words")
  }

  test("mask: email consumed whole — its domain dots never half-match as an IP") {
    // masking order is email → IP → phone; the email match includes
    // the full domain, so nothing numeric is left for the IP pass
    val t = "x9@10.20.30.com stays one token"
    assert(one(t, mask(col("text"))) == "<EMAIL> stays one token")
  }

  test("clean text passes through untouched") {
    val t = "the quick brown fox 42 jumps"
    assert(one(t, mask(col("text"))) == t)
    assert(one(t, emailCount(col("text"))) == 0)
    assert(one(t, phoneCount(col("text"))) == 0)
    assert(one(t, ipCount(col("text"))) == 0)
  }

  test("native pii_scrub equals the composed built-ins on crafted and fuzzed inputs") {
    import spark.implicits._
    // fuzz from the pattern alphabet so matches and near-misses are
    // dense (deterministic LCG — no RNG in tests either)
    val alphabet = "a1.@+-% u@9."
    var seed = 12345L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val fuzz = Seq.fill(300) {
      val len = nextInt(40)
      (0 until len).map(_ => alphabet(nextInt(alphabet.length))).mkString
    }
    val crafted = Seq(
      "u1@mail2.example.com +1-555-0462 10.206.0.34 plain",
      "x9@10.20.30.com edge", "1.2.3.4a@b.co overlap-ish",
      "a@b.cc1.2.3.4 chained", "+1-555-1234@x.co local-plus",
      "", " ", "@", "1.2.3.4 5.6.7.8", "+12-345-6789 and +1-555-0000")
    val df = (crafted ++ fuzz).toDF("text")
    // the composed reference: counts describe what each masking STAGE
    // replaces (an IP consumed by the email pass is not "an IP found")
    val m1 = regexp_replace(col("text"), Pii.EmailPattern, "<EMAIL>")
    val m2 = regexp_replace(m1, Pii.Ipv4Pattern, "<IP>")
    val mismatches = df.select(
        Pii.scrub(col("text")).as("p"),
        mask(col("text")).as("m"),
        emailCount(col("text")).as("ne"),
        regexp_count(m2, lit(Pii.PhonePattern)).as("np"),
        regexp_count(m1, lit(Pii.Ipv4Pattern)).as("ni"),
        col("text"))
      .filter(col("p.clean_text") =!= col("m") ||
              col("p.n_emails") =!= col("ne") ||
              col("p.n_phones") =!= col("np") ||
              col("p.n_ips") =!= col("ni"))
      .collect()
    assert(mismatches.isEmpty,
      s"native/composed divergence on: ${mismatches.take(3).mkString("; ")}")
  }
}
