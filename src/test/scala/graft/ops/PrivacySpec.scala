package graft.ops

import graft.SparkSuite

class PrivacySpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "write to bob.smith+x@mail-host.co.uk or call 555-0199 now"),
    (2L, "server at 192.168.0.1 and 10.0.0.255, no contact"),
    (3L, "plain text, nothing sensitive"),
    (4L, "a@b.io a@b.io 555-1234")
  ).toDF("id", "text")

  test("detect counts each PII class") {
    val got = Privacy.detect(docs, "text")
      .select("id", "n_emails", "n_phones", "n_ips")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 1L, 1L, 0L), (2L, 0L, 0L, 2L), (3L, 0L, 0L, 0L), (4L, 2L, 1L, 0L)))
  }

  test("redact rewrites every match to its placeholder, in place") {
    val got = Privacy.redact(docs, "text")
      .orderBy("id").as[(Long, String)].collect().map(_._2)
    assert(got(0) === "write to [EMAIL] or call [PHONE] now")
    assert(got(1) === "server at [IP] and [IP], no contact")
    assert(got(2) === "plain text, nothing sensitive")
    assert(got(3) === "[EMAIL] [EMAIL] [PHONE]")
  }

  test("redaction leaves non-PII digit runs alone") {
    val df = Seq((1L, "version 1.2 of chapter 12-3456 sold 1234 units")).toDF("id", "text")
    // "12-3456" has a 2-digit prefix — not the 3-3-4 phone shape; "1.2" is
    // not a dotted quad.
    val out = Privacy.redact(df, "text").as[(Long, String)].collect().head._2
    assert(out === "version 1.2 of chapter 12-3456 sold 1234 units")
  }

  test("detect is a map-only plan — no shuffle") {
    val plan = Privacy.detect(docs, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("kAnonymity counts quasi-identifier groups; suppression drops small ones") {
    val df = Seq(
      ("us", "a"), ("us", "a"), ("us", "a"),   // group of 3
      ("us", "b"), ("us", "b"),                // group of 2
      ("fr", "a")                              // singleton — re-identifiable
    ).toDF("country", "seg")
    val sized = Privacy.kAnonymity(df, Seq("country", "seg"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(sized.count(_ == (("us", "a", 3L))) === 3)
    assert(sized.count(_ == (("us", "b", 2L))) === 2)
    assert(sized.count(_ == (("fr", "a", 1L))) === 1)
    val k2 = Privacy.suppressSmallGroups(df, Seq("country", "seg"), k = 2L)
    assert(k2.count() === 5 && k2.columns.toSeq === Seq("country", "seg"))
    val k3 = Privacy.suppressSmallGroups(df, Seq("country", "seg"), k = 3L)
    assert(k3.count() === 3)
    // the window is PARTITIONED by the quasi-ids — never a global window
    val plan = Privacy.kAnonymity(df, Seq("country", "seg"))
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("no partition defined"))
  }

  test("tokenize: deterministic, null-preserving, framing-unambiguous, secret-sensitive") {
    import spark.implicits._
    val df = Seq(Some("u1"), Some("u1"), Some("u2"), None).toDF("id")
    val toks = Privacy.tokenize(df, "id", "k").collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(toks(0) == toks(1) && toks(0) != toks(2), "same in → same token")
    assert(toks(3) == null, "NULL must stay NULL, not become a joinable token")
    assert(toks(0).matches("[0-9a-f]{64}"))
    // length framing: (secret "s", value "1x") must differ from
    // (secret "s1", value "x") even though the naive concat collides
    def tok1(secret: String, v: String): String =
      Privacy.tokenize(Seq(v).toDF("id"), "id", secret)
        .head().getString(0)
    assert(tok1("s", "1x") != tok1("s1", "x"))
    assert(tok1("k", "u1") != tok1("K", "u1"), "secret changes every token")
    // map-only: tokenization adds no exchange
    val plan = Privacy.tokenize(df, "id", "k")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("lDiversity keeps NULL-quasi rows (null-safe join) and counts per group") {
    import spark.implicits._
    // NULL region is a GROUP (the kAnonymity semantics), not a dropped row
    val df = Seq(
      ("a", "r1", 1L), ("b", "r1", 2L), ("c", "r1", 2L),
      ("d", null, 5L), ("e", null, 6L), ("f", null, 6L))
      .toDF("id", "region", "band")
    val ld = Privacy.lDiversity(df, Seq("region"), "band")
    assert(ld.count() === 6L, "no row may vanish on a NULL quasi value")
    val byId = ld.select("id", "l_div").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byId("a") === 2L && byId("d") === 2L)
    // suppression at l >= 3 drops BOTH groups here; at l >= 2 keeps all
    assert(Privacy.suppressLowDiversity(df, Seq("region"), "band", 3L).isEmpty)
    assert(Privacy.suppressLowDiversity(df, Seq("region"), "band", 2L)
      .count() === 6L)
    // the helper column must not survive suppression
    assert(!Privacy.suppressLowDiversity(df, Seq("region"), "band", 2L)
      .columns.contains("l_div"))
  }
}
