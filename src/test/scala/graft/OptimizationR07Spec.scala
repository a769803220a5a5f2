package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Par}

/** Focused pins for the r07 optimization rewrites: each test targets an
  * operator whose INTERNALS changed this round and asserts equivalence
  * with a reference formulation (the contract the golden-output diffs
  * proved end-to-end, pinned here at unit grain so future edits keep it).
  */
class OptimizationR07Spec extends SparkSpec {
  import spark.implicits._

  test("shingleCol (rewritten lambda binding) matches reference sliding windows, all widths and edges") {
    val texts = Seq(
      "a b c d e",          // normal
      "a b",                // n == w for w=2
      "a",                  // n < w
      "",                   // empty: split gives [""], falls back per-branch
      "x y x y x",          // repeats
      "게임 버그 서버 게임") // non-ascii
    val df = texts.toDF("text")
    for (w <- Seq(1, 2, 3, 5)) {
      val got = df.select(Dedup.shingleCol($"text", w).as("sh"))
        .collect().map(_.getSeq[String](0).toList)
      val want = texts.map { t =>
        val toks = t.split(" ", -1).toList // Spark split keeps trailing empties
        if (toks.length >= w) toks.sliding(w).map(_.mkString(" ")).toList
        else List(t)
      }
      assert(got.toList == want, s"w=$w")
    }
  }

  test("cosineCol UDF is bit-identical to the zip_with/aggregate expression it replaced") {
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
          lit(0.0d), (acc, v) => acc + v)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq,
        Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq)
    }
    val df = rows.toDF("va", "vb")
    val both = df.select(
      Dedup.cosineCol($"va", $"vb").as("udf"), hofCosine($"va", $"vb").as("hof"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // length mismatch and null: the old expression yielded null via
    // zip_with's null padding — pinned
    val edge = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f)),
        (null.asInstanceOf[Seq[Float]], Seq(1f, 2f)))
      .toDF("va", "vb")
      .select(Dedup.cosineCol($"va", $"vb").as("c")).collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("Par.widen: repartitions a narrow frame, passes a wide one through, preserves rows") {
    val narrow = spark.range(1000).toDF("id").coalesce(1)
    val widened = Par.widen(narrow)
    assert(widened.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(widened.select(sum($"id")).head().getLong(0) == 499500L)
    val wide = spark.range(1000).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism + 3)
    assert(Par.widen(wide) eq wide) // at-scale inputs are untouched
  }

  test("Par.widen decides from the plan: no job for a grouped frame; a one-file scan widens") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val grouped = spark.range(100000).groupBy(($"id" % 97).as("k")).count()
    val dir = tempDir("graft-widen") + "/one"
    spark.range(1000).toDF("id").coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    org.apache.spark.GraftBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    val (wGrouped, wScan) =
      try (Par.widen(grouped), Par.widen(scan))
      finally {
        org.apache.spark.GraftBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.get == 0, s"widen launched ${jobs.get} jobs")
    // the grouped frame keeps its planned shuffle width when that is wide
    // enough, and is widened otherwise
    val shuffleWidth = spark.sessionState.conf.numShufflePartitions
    assert((wGrouped eq grouped) == (shuffleWidth >= sc.defaultParallelism))
    assert(wGrouped.select(sum($"count")).head().getLong(0) == 100000L)
    assert(scan.rdd.getNumPartitions == 1, "test vacuous: the scan must be one partition")
    assert(wScan.rdd.getNumPartitions == sc.defaultParallelism)
    assert(wScan.select(sum($"id")).head().getLong(0) == 499500L)
  }

  test("dupClusters: duplicate and symmetric input pairs yield the same components") {
    // the r07 rounds drop intermediate distincts — multiplicity in the
    // INPUT must still be invisible in the output
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (6L, 5L))
      .toDF("a", "b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("SnapshotStore.commit: a failing parallel write leaves no manifest (atomicity)") {
    val root = tempDir("graft-commit-atomic")
    val store = new graft.snapshot.SnapshotStore(root)
    val ok = Seq((1, "a")).toDF("k", "v")
    val boom = udf { (_: Int) =>
      throw new RuntimeException("injected write failure"); 0
    }
    val failing = Seq((1, "a")).toDF("k", "v").withColumn("x", boom($"k"))
    intercept[Throwable] {
      store.commit(0, Map("good" -> ok, "bad" -> failing))
    }
    assert(store.latestRound().isEmpty, "manifest must not exist after a failed table write")
    // and a clean commit still lands
    store.commit(1, Map("good" -> ok))
    assert(store.latestRound().contains(1))
  }
}
