package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Compaction, CsvSource}
import graft.operators.{Dedup, TxnTransform}

/** S1/S2 CSV ingestion with per-row corrupt capture, and S7 deterministic
  * last-writer-wins dedup (SURVEY.md §2.1).
  */
class SourcesAndDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S2: malformed fixture splits 12 clean / 3 corrupt; pipeline keeps 7") {
    val (clean, corrupt) =
      CsvSource.readTxn(spark, Fixtures.materializeMalformed())
    assert(clean.count() == 12)
    assert(corrupt.count() == 3)
    // every corrupt row retains its raw text for quarantine/debugging
    assert(corrupt.filter(col(CsvSource.corruptCol).isNull).count() == 0)
    assert(TxnTransform.pipeline("TS0")(clean).count() == 7)
  }

  test("S2: column-subset reads of the split still see the malformed rows") {
    val (clean, corrupt) =
      CsvSource.readTxn(spark, Fixtures.materializeMalformed())
    assert(clean.select("transaction_id").count() == 12)
    // all 12 well-formed rows carry an amount string (t005's "abc"
    // included: the cast comes later, in TxnTransform.clean)
    assert(clean.filter(col("amount").isNotNull).count() == 12)
    assert(corrupt.select("transaction_id").count() == 3)
    assert(corrupt.select(CsvSource.corruptCol).as[String].collect().toSet ==
      Set("t011,u11,55.00,2024-01-11,completed,EXTRA_FIELD,MORE", "t012,u12",
        "t013,u13,\"unclosed quote,2024-01-13,completed"))
  }

  test("P1: requireColumns rejects missing columns") {
    val df = Seq(("a", "b")).toDF("transaction_id", "user_id")
    assertThrows[IllegalArgumentException] {
      CsvSource.requireColumns(df, Seq("transaction_id", "amount"))
    }
  }

  test("S7: last-writer-wins keeps exactly the highest-priority row per key") {
    val df = Seq(
      ("k1", 1, "old"), ("k1", 2, "new"),
      ("k2", 5, "only"),
      ("k3", 7, "a"), ("k3", 7, "b") // tie on priority -> tiebreak col
    ).toDF("id", "batch", "v")
    val out = Dedup.lastWriterWins(df, Seq("id"),
      Seq(col("batch").desc, col("v")))
    assert(out.orderBy("id").as[(String, Int, String)].collect().toSeq ==
      Seq(("k1", 2, "new"), ("k2", 5, "only"), ("k3", 7, "a")))
  }

  test("S7: dedup output is stable across repeated runs (determinism)") {
    val base = TxnTransform.pipeline("TS0")(TxnView.dirty(spark, TestSpark.sf))
    val dup = base.unionByName(base.withColumn("amount", col("amount") + 1.0))
    def run() = Dedup.lastWriterWins(dup, Seq("transaction_id"),
      Seq(col("amount").desc, col("user_id"), col("ts"), col("status")))
      .collect().toSet
    assert(run() == run())
  }

  test("agg-based LWW equals window-based LWW under an all-desc total order") {
    val base = TxnTransform.pipeline("TS0")(TxnView.dirty(spark, TestSpark.sf))
      .withColumn("batch", (col("amount") * 100).cast("long") % 3)
    val win = Dedup.lastWriterWins(base, Seq("transaction_id"),
      Seq(col("batch").desc, col("user_id").desc, col("amount").desc,
        col("ts").desc, col("status").desc))
      .select("transaction_id", "user_id", "amount", "ts", "status", "batch")
    val agg = Dedup.lastWriterWinsAgg(base, Seq("transaction_id"),
      payload = Seq("user_id", "amount", "ts", "status", "batch"),
      orderCols = Seq("batch", "user_id", "amount", "ts", "status"))
      .select("transaction_id", "user_id", "amount", "ts", "status", "batch")
    assert(win.collect().toSet == agg.collect().toSet)
  }

  test("S8 analogue: partitionBy write enables partition-pruned scans") {
    val out = TxnTransform.pipeline("TS0")(TxnView.dirty(spark, TestSpark.sf))
    val path = "/tmp/graft_test_partitioned"
    out.write.mode("overwrite").partitionBy("status").parquet(path)
    val scan = spark.read.parquet(path).filter(col("status") === "pending")
    val plan = scan.queryExecution.executedPlan.toString
    // the status predicate must become a PartitionFilter (pruned
    // directories), not a data filter over all files
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(status"),
      s"expected partition pruning in plan:\n$plan")
    assert(scan.count() ==
      out.filter(col("status") === "pending").count())
  }

  test("bucketed tables join WITHOUT a shuffle exchange (co-located join)") {
    val o = Tables.orders(spark, TestSpark.sf)
    val c = Tables.customer(spark, TestSpark.sf)
    // (warehouse.dir is a static conf; bucketed tables land in the
    // default ./spark-warehouse, which is gitignored)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      o.write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("orders_b")
      c.write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("customer_b")
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing on the join key must eliminate ShuffleExchange on BOTH
      // sides (SortMergeJoin reads co-located buckets directly)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle exchange in bucketed join plan:\n$plan")
      assert(joined.count() == o.join(c,
        col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("salted join plans as a shuffle join on (key, salt), not broadcast") {
    val fact = Tables.lineitem(spark, TestSpark.sf)
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    val dim = Tables.supplier(spark, TestSpark.sf)
      .select("s_suppkey", "s_nationkey")
      .withColumnRenamed("s_suppkey", "l_suppkey")
    val joined = graft.operators.Skew.saltedJoin(fact, dim,
      key = "l_suppkey", factRowKey = "l_orderkey", buckets = 8)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"salted join must stay a shuffle join (hint honored):\n$plan")
    assert(!plan.contains("BroadcastHashJoin"))
    // the hash table must build from the replicated DIM side (the fact
    // side is unbounded at scale); dim is the right/second join input
    assert(plan.contains("BuildRight"),
      s"salted join must build from the dim side:\n$plan")
    // the salt cancels out: row multiset equals the plain join's
    assert(joined.count() ==
      fact.join(dim, Seq("l_suppkey")).count())
  }

  test("compaction: many small files rewrite to few, content-identical") {
    // the 100 TB housekeeping op: streaming/incremental writers leave
    // thousands of tiny files; compaction = read → repartition to target
    // file count → rewrite. Content parity is the correctness contract.
    val small = "/tmp/graft_compact_small"
    val compact = "/tmp/graft_compact_out"
    val df = Tables.orders(spark, TestSpark.sf)
    df.repartition(32).write.mode("overwrite").parquet(small)
    def partFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.startsWith("part-"))
    assert(partFiles(small) == 32)
    // target = ceil(bytes/2) ⇒ the size-derived file count is exactly 2
    val bytes = Compaction.dataBytes(spark, small)
    val b = Compaction.compactParquet(spark, small, compact,
      targetFileBytes = (bytes + 1) / 2)
    assert(partFiles(compact) == 2,
      "file count must derive from input bytes / target size")
    val a = spark.read.parquet(small)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "compaction must preserve the exact row multiset")
  }

  test("dynamic partition overwrite rewrites ONLY the delivered partition") {
    val base = "/tmp/graft_test_dyn_overwrite"
    val df = Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").as("pk"))
    df.write.mode("overwrite").partitionBy("pk").parquet(base)
    def files(pk: String): Set[String] = {
      val d = new java.io.File(s"$base/pk=$pk")
      d.listFiles.map(_.getName).filter(_.startsWith("part-")).toSet
    }
    val pks = new java.io.File(base).listFiles
      .filter(_.getName.startsWith("pk=")).map(_.getName.drop(3)).sorted
    assert(pks.length > 1, "need multiple partitions for this test")
    val touched = pks.head
    val before = pks.map(pk => pk -> files(pk)).toMap
    df.filter(col("pk") === touched)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pk").parquet(base)
    // untouched partitions: byte-identical file sets; touched: replaced
    pks.tail.foreach { pk =>
      assert(files(pk) == before(pk),
        s"partition $pk was rewritten by an unrelated delivery")
    }
    assert(files(touched) != before(touched),
      "the delivered partition must be replaced")
    // and a STATIC overwrite of the same single-partition frame would
    // have dropped every other partition — the mode is the semantics
    val total = spark.read.parquet(base).count()
    assert(total == df.count(), "no rows lost or doubled across the upsert")
  }

  test("ORC sink round-trips the pipeline output (third columnar format)") {
    val out = TxnTransform.pipeline("TS0")(TxnView.dirty(spark, TestSpark.sf))
    val path = "/tmp/graft_test_orc_sink"
    out.write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(back.count() == out.count())
    assert(back.agg(sum(col("amount").cast("decimal(18,2)"))).collect().head ==
      out.agg(sum(col("amount").cast("decimal(18,2)"))).collect().head)
  }

  test("XML sink round-trips rows exactly, including null fields") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // nulls via Row + explicit schema (CLAUDE.md): an XML writer omits
    // null elements; the schema'd reader must restore them as null
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("amt", DoubleType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "alpha", 1.25), Row(2L, null, 0.5), Row(3L, "gamma", null)),
      schema)
    val path = "/tmp/graft_test_xml_sink"
    df.write.mode("overwrite").option("rowTag", "row").format("xml")
      .save(path)
    val back = spark.read.option("rowTag", "row").schema(schema)
      .format("xml").load(path)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("S4/S6: parquet sink round-trips the pipeline output exactly") {
    val out = TxnTransform.pipeline("TS0")(TxnView.dirty(spark, TestSpark.sf))
    val path = "/tmp/graft_test_parquet_sink"
    CsvSource.writeParquet(out, path)
    val back = spark.read.parquet(path)
    // parquet read-back relaxes nullability; names+types must match
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      out.schema.map(f => (f.name, f.dataType)))
    assert(back.count() == out.count())
    assert(back.agg(sum(col("amount").cast("decimal(18,2)"))).collect().head ==
      out.agg(sum(col("amount").cast("decimal(18,2)"))).collect().head)
  }

  test("fingerprint index: verdicts against the stored owner map, " +
      "incoming-internal dups collapse to their min, NULL text is its " +
      "own owner, and the survivors-append premises refuse") {
    val dir = "/tmp/graft_test_fpindex"
    // corpus: docs 1 and 3 normalize to the SAME fingerprint ('Hello,
    // World!' ≡ 'hello world'), doc 2 unique
    val corpus = Seq((1L, "Hello, World!"), (2L, "something else"),
      (3L, "hello world")).toDF("doc_id", "text")
    CacheScope.withScope { Dedup.writeFingerprintIndex(corpus, dir) }
    // incoming: 10 dups corpus (owner 1); 11 and 12 are novel twins
    // (owner = min incoming 11); 13 unique novel; 14 NULL text —
    // built via Row + explicit schema (the CLAUDE.md null-frame rule)
    val incSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val incoming = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        (10L, "HELLO world"), (11L, "brand new"), (12L, "Brand New!"),
        (13L, "only once"), (14L, null.asInstanceOf[String]))
        .map { case (id, t) => org.apache.spark.sql.Row(id, t) }),
      incSchema)
    val got = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .select("doc_id", "owner", "kept")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    }
    assert(got == Set((10L, 1L, false), (11L, 11L, true),
      (12L, 11L, false), (13L, 13L, true), (14L, 14L, true)))
    // survivors-append: folding the KEPT docs in works and changes the
    // next verdict (a repeat of 13's text is now a dup of 13)
    CacheScope.withScope {
      Dedup.appendFingerprintIndex(dir,
        incoming.filter(col("doc_id").isin(11L, 13L)))
    }
    val after = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir,
          Seq((20L, "ONLY once")).toDF("doc_id", "text"))
        .select("owner", "kept").collect().head
    }
    assert(after.getLong(0) == 13L && !after.getBoolean(1))
    // raw-shard append refuses: fp already stored (two owners for one
    // identity)
    val fe = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Dedup.appendFingerprintIndex(dir,
          Seq((30L, "hello WORLD")).toDF("doc_id", "text"))
      }
    }
    assert(fe.getMessage.contains("already exist"))
    // id collision with a stored owner refuses
    val ie = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Dedup.appendFingerprintIndex(dir,
          Seq((1L, "totally novel text")).toDF("doc_id", "text"))
      }
    }
    assert(ie.getMessage.contains("one id space"))
    // duplicate ids within the shard refuse (probe side)
    val de = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Dedup.dedupAgainstIndex(dir,
          Seq((40L, "x y z"), (40L, "p q r")).toDF("doc_id", "text"))
      }
    }
    assert(de.getMessage.contains("one id space"))
    // a missing artifact refuses by the caller's name
    val ne = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex("/tmp/graft_test_fpindex_none", incoming)
    }
    assert(ne.getMessage.contains("no complete epoch"))
  }
}
