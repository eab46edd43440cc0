package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  test("cosine_sim resolves as a SQL function via GraftExtensions") {
    // Extensions apply only at session build time; clear the default so
    // getOrCreate builds a fresh session (reusing the JVM's SparkContext)
    // instead of returning the shared test session, which already has
    // them through GraftSession.builder.
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // withExtensions (programmatic): the "spark.sql.extensions" config is
    // a STATIC conf — it only applies when this builder also creates the
    // SparkContext, which in a shared-suite JVM it does not.
    val spark = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT cosine_sim(
          |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |  array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c""".stripMargin)
        .head().getDouble(0)
      assert(r == 0.0)
      val r2 = spark.sql(
        """SELECT cosine_sim(
          |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
          |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(r2 - 1.0) < 1e-12)
      // the rest of the similarity/dedup toolkit resolves from SQL too
      val inter = spark.sql(
        "SELECT sorted_intersect_size(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS n")
        .head().getInt(0)
      assert(inter == 2)
      val bucket = spark.sql(
        "SELECT rhp_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 8) AS b")
        .head().getLong(0)
      assert(bucket >= 0L && bucket < 256L)
      val aggs = spark.sql(
        """SELECT minhash_sig(h, 16) AS sig, simhash64(h) AS sh
          |FROM VALUES (xxhash64('a')), (xxhash64('b')), (xxhash64('c')) AS t(h)""".stripMargin)
        .head()
      assert(aggs.getSeq[Long](0).length == 16)
      // simhash of a fixed input set is deterministic and non-degenerate
      assert(aggs.getLong(1) != 0L)
      // KMV: 3 distinct hashes at k=16 -> the sketch IS the sorted set
      val kmv = spark.sql(
        """SELECT kmin_values(h, 16) AS sk
          |FROM VALUES (xxhash64('a')), (xxhash64('b')), (xxhash64('a')) AS t(h)""".stripMargin)
        .head().getSeq[Long](0)
      assert(kmv.length == 2 && kmv == kmv.sorted)
      // count_min: flattened depth x width cells; 'a' counted twice means
      // every one of its depth cells holds >= 2 (one-sided), and total
      // mass per depth row == stream length 3
      val cms = spark.sql(
        """SELECT count_min(k, 2, 8) AS sk
          |FROM VALUES ('a'), ('b'), ('a') AS t(k)""".stripMargin)
        .head().getSeq[Long](0)
      assert(cms.length == 16 && cms.grouped(8).forall(_.sum == 3L),
        s"got $cms")
      val cmsEst = (0 until 2).map { d =>
        val cell = (graft.functions.HashFunctions.md5Hash56Local(d + ":a") % 8).toInt
        cms(d * 8 + cell)
      }.min
      assert(cmsEst >= 2L, s"point estimate for 'a' must be >= its true count, got $cmsEst")
      // bloom_bits: a member hash has ALL k positions set (no false
      // negatives); an absent hash here misses at least one (checked
      // against the tiny filter's actual bits)
      // hll_registers: max-rho registers from md5-56 — two distinct keys
      // set at most two registers; a repeat changes nothing (max is
      // idempotent), and every register value is a legal rho in [0, 48]
      val hll = spark.sql(
        """SELECT hll_registers(k, 9) AS regs
          |FROM VALUES ('a'), ('b'), ('a') AS t(k)""".stripMargin)
        .head().getSeq[Long](0)
      assert(hll.length == 512 && hll.count(_ > 0L) == 2
        && hll.forall(r => r >= 0L && r <= 48L), s"bad hll registers")
      val bloom = spark.sql(
        """SELECT bloom_bits(h, 256, 4) AS bits
          |FROM VALUES (42L), (7L) AS t(h)""".stripMargin)
        .head().getSeq[Long](0)
      assert(bloom.length == 4)
      def positions(h: Long) = (0 until 4).map(i =>
        (graft.functions.HashFunctions.md5Hash56Local(i + ":" + h) % 256).toInt)
      def member(h: Long) = positions(h).forall(p => ((bloom(p >>> 6) >>> (p & 63)) & 1L) == 1L)
      assert(member(42L) && member(7L), "members must always test positive")
      // real BPE from SQL: merges as a literal array of 'left right'
      // lines (the public merges-file format), greedy loop inside the
      // codegen expression
      val bpe = spark.sql(
        "SELECT bpe_encode('hello', array('h e', 'l l', 'he ll', 'hell o')) AS s")
        .head().getSeq[String](0)
      assert(bpe == Seq("hello"), s"got $bpe")
      val bpePartial = spark.sql(
        "SELECT bpe_encode('help', array('h e', 'l l')) AS s")
        .head().getSeq[String](0)
      assert(bpePartial == Seq("he", "l", "p"), s"got $bpePartial")
      // non-literal merges are rejected loudly (the table is a model
      // artifact, not per-row data)
      val err = intercept[Exception] {
        spark.sql("SELECT bpe_encode('x', array(CAST(rand() AS STRING))) AS s").head()
      }
      assert(err.getMessage.contains("LITERAL") || err.getMessage.contains("literal"),
        s"unexpected error: ${err.getMessage}")
      // a NULL merges element is rejected with the loud message, not an
      // opaque NPE during analysis
      val errNull = intercept[Exception] {
        spark.sql("SELECT bpe_encode('x', array('h e', CAST(NULL AS STRING))) AS s").head()
      }
      assert(errNull.getMessage.contains("NULL"), s"unexpected: ${errNull.getMessage}")
      // 'a b c' is ambiguous (buildRanks keys by the space-joined pair:
      // ('a','b c') and ('a b','c') collide) — reject, don't guess
      val errMalformed = intercept[Exception] {
        spark.sql("SELECT bpe_encode('x', array('a b c')) AS s").head()
      }
      assert(errMalformed.getMessage.contains("exactly 'left right'"),
        s"unexpected: ${errMalformed.getMessage}")
      // Aho-Corasick from SQL: overlapping + suffix-nested counts
      val mpc = spark.sql(
        "SELECT multi_pattern_counts('aaaa', array('a', 'aa')) AS c")
        .head().getSeq[Long](0)
      assert(mpc == Seq(4L, 3L), s"got $mpc")
      val errPat = intercept[Exception] {
        spark.sql("SELECT multi_pattern_counts('x', array(CAST(rand() AS STRING))) AS c").head()
      }
      assert(errPat.getMessage.contains("LITERAL"), s"unexpected: ${errPat.getMessage}")
      // NFC from SQL: decomposed e + combining acute composes
      val nfc = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n").head().getString(0)
      assert(nfc == "caf\u00e9", s"got $nfc")
      // char_entropy from SQL: 'aabb' is exactly 1 bit over 4 chars
      val ce = spark.sql("SELECT char_entropy('aabb') AS e").select("e.*").head()
      assert(ce.getLong(0) == 4L && ce.getLong(1) == 2L && ce.getDouble(2) == 1.0, s"got $ce")
      // MRL from SQL: per-group sketches union to a sane global median
      val mrl = spark.sql(
        """SELECT mrl_quantile(mrl_union(sk), CAST(0.5 AS DOUBLE)) AS med FROM (
          |  SELECT g, mrl_sketch(CAST(v AS DOUBLE), 64) AS sk
          |  FROM VALUES (1, 1), (1, 2), (1, 3), (2, 4), (2, 5) AS t(g, v)
          |  GROUP BY g)""".stripMargin).head().getDouble(0)
      assert(mrl == 3.0, s"exact regime median: $mrl")
    } finally {
      // do NOT stop(): that would kill the shared SparkContext
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }
}
