package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("piiRedact: staged counts never double-count, bytes pinned") {
    val docs = Seq(
      (1L, "mail me at alice@corp.example.com thanks"),
      // digits in the local part: ONE email, zero long-number hits
      (2L, "from bob12345@a.io and carol@b.org"),
      (3L, "server 192.168.0.1 and 10.0.255.3 up"),
      // an IP is octet-sized: the number pass must not tear it,
      // while the real account number is caught
      (4L, "acct 123456789 on 172.16.254.1"),
      (5L, "v1.2 costs 999 at 3pm"), // nothing PII-shaped
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Privacy.piiRedact(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getLong(3), x.getString(5)))).toMap
    assert(r(1L)._1 === 1L && r(1L)._2 === 0L && r(1L)._3 === 0L)
    assert(r(2L)._1 === 2L && r(2L)._3 === 0L,
      "digits inside a redacted email must not also count as numbers")
    assert(r(3L)._2 === 2L && r(3L)._3 === 0L)
    assert(r(4L)._2 === 1L && r(4L)._3 === 1L)
    assert(r(5L) === ((0L, 0L, 0L, r(5L)._4)))
    assert(r(6L)._1 === 0L)
    // byte-exact redaction: hash equals sha2 of the expected string
    val expected = spark.range(1)
      .select(sha2(lit("acct <NUM> on <IP>"), 256)).head.getString(0)
    val h4 = Privacy.piiRedact(docs).filter(col("doc_id") === 4L)
      .select(col("red_hash")).head.getString(0)
    assert(h4 === expected)
  }

  test("lDiversity: violation ⇔ distinct sensitive values < l") {
    val df = Seq(
      ("en", 0L, "s0"), ("en", 0L, "s1"), ("en", 0L, "s2"), // diverse
      ("de", 0L, "s0"), ("de", 0L, "s0"), ("de", 0L, "s1"), // 2 < 3
      ("fr", 1L, "s0")) // singleton class
      .toDF("lang", "len_bucket", "source")
    val r = Privacy.lDiversity(df, Seq("lang", "len_bucket"), "source", 3)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r(("en", 0L)) === ((3L, 3L, 0L)))
    assert(r(("de", 0L)) === ((3L, 2L, 1L)))
    assert(r(("fr", 1L)) === ((1L, 1L, 1L)))
  }

  test("erasureAudit: per-table counts reconcile across the cascade") {
    val docs = (0L to 9L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val vecs = (0L to 4L).map(i => (i, i * 10)).toDF("vec_id", "x")
    val forget = Seq(1L, 3L, 4L, 99L).toDF("doc_id") // 99 hits nothing
    val out = Privacy.erasureAudit(
      Seq(("documents", docs, "doc_id"), ("embeddings", vecs, "vec_id")),
      forget, "doc_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("documents") === ((10L, 3L, 7L)))
    assert(out("embeddings") === ((5L, 3L, 2L)))
  }

  test("erasureAudit certifies storage: a correct rewrite passes, a botched one FAILS") {
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-erasure").toString)
    val docs = (0L to 9L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val forget = Seq(2L, 5L).toDF("doc_id")
    // correct rewrite: post-phase audit of the RE-READ shows zero
    // forget-keyed rows still in storage
    store.overwrite("docs", docs)
    store.overwrite("docs", store.read("docs").filter(!col("doc_id").isin(2L, 5L)))
    val good = Privacy.erasureAudit(
      Seq(("docs", store.read("docs"), "doc_id")), forget, "doc_id")
      .collect().head
    assert(good.getLong(1) === 8L)  // rows_before (re-read)
    assert(good.getLong(2) === 0L)  // rows_forget_keyed: certified clean
    assert(good.getLong(3) === 8L)
    // botched rewrite (only dropped doc 2): the audit MUST catch the
    // forget-keyed row still present — the non-tautological certification
    store.overwrite("docs", docs.filter(col("doc_id") =!= 2L))
    val bad = Privacy.erasureAudit(
      Seq(("docs", store.read("docs"), "doc_id")), forget, "doc_id")
      .collect().head
    assert(bad.getLong(2) === 1L, "doc 5 is still in storage and must be flagged")
    store.destroy()
  }

  test("t-closeness: hand-traced TVD vs the global distribution, exact q4") {
    import spark.implicits._
    // class A holds {x, x, y}, class B holds {y}; global x:2 y:2 (N=4)
    //   A: TVD = ((2/3 - 1/2) + (1/2 - 1/3)) / 2 = 1/6  -> 1666 on q4
    //   B: TVD = ((1 - 1/2) + (1/2 - 0)) / 2     = 1/2  -> 5000
    // B's absent value x exercises the closed-form complement term
    val df = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("B", "y"))
      .toDF("cls", "v")
    val got = Privacy.tCloseness(df, Seq("cls"), "v", tQ4 = 3000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("A") === ((3L, 1666L, 0L)))
    assert(got("B") === ((1L, 5000L, 1L)))
    // a class distributed exactly like the global is 0-distant
    val uniform = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y"))
      .toDF("cls", "v")
    Privacy.tCloseness(uniform, Seq("cls"), "v", tQ4 = 0L).collect()
      .foreach(r => assert(r.getLong(2) === 0L, r.toString))
  }
}
