package graft.tools

import graft.GraftSession
import graft.queries._

/** Scratch profiling main: time a named query (or sub-stages) outside the
  * bench harness. `runMain graft.tools.Profile <queryName> <sfDir>`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder(master = "local[32]", app = "profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (name == "spin_count1") {
      // Spin trivial 2-job queries for ~120 s so an external sampler can
      // attribute the per-job overhead.
      println("PID=" + java.lang.ProcessHandle.current().pid())
      val until = System.nanoTime() + 120L * 1000000000L
      var n = 0
      while (System.nanoTime() < until) { spark.range(1).count(); n += 1 }
      println(s"count1 iterations: $n")
      spark.stop(); return
    } else if (name == "latency_matrix") {
      // Same micro-latency probes under config variants, one fresh session
      // each — attributes the per-stage orchestration cost.
      import org.apache.spark.sql.functions._
      spark.stop()
      val variants: Seq[(String, Seq[(String, String)])] = Seq(
        "baseline" -> Seq.empty,
        "buf4k_lz4k" -> Seq(
          "spark.shuffle.file.buffer" -> "4k",
          "spark.io.compression.lz4.blockSize" -> "4k"),
        "buf4k_nocomp" -> Seq(
          "spark.shuffle.file.buffer" -> "4k",
          "spark.shuffle.compress" -> "false",
          "spark.shuffle.spill.compress" -> "false"),
        "lz4k" -> Seq("spark.io.compression.lz4.blockSize" -> "4k"))
      for ((label, confs) <- variants) {
        val b = graft.GraftSession.builder(master = "local[32]", app = s"lat-$label")
        confs.foreach { case (k, v) => b.config(k, v) }
        val s = b.getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            tasks.incrementAndGet()
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        })
        def t(l2: String, reps: Int)(f: => Unit): Unit = {
          f
          tasks.set(0); jobs.set(0)
          val t0 = System.nanoTime()
          (1 to reps).foreach(_ => f)
          val ms = (System.nanoTime() - t0) / 1e6 / reps
          Thread.sleep(100)
          println(f"  [$label] $l2: $ms%.1f ms/op  tasks/op=${tasks.get.toDouble / reps}%.1f jobs/op=${jobs.get.toDouble / reps}%.1f")
        }
        t("count1", 20)(s.range(1).count())
        t("gb-noop", 20)(
          s.range(0, 1000000, 1, 32).groupBy((col("id") % 97).as("k")).count()
            .write.format("noop").mode("overwrite").save())
        t("2shuffle-noop", 20)(
          s.range(0, 1000000, 1, 32).groupBy((col("id") % 97).as("k")).count()
            .orderBy("count").write.format("noop").mode("overwrite").save())
        s.stop()
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
      }
      return
    } else if (name == "latency_diag") {
      // Raw orchestration latency: empty jobs, 32-task jobs, one-shuffle
      // and two-shuffle AQE queries, a noop write of a one-row frame.
      import org.apache.spark.sql.functions._
      def t(label: String, reps: Int)(f: => Unit): Unit = {
        f // warm
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => f)
        println(f"  $label: ${(System.nanoTime() - t0) / 1e6 / reps}%.1f ms/op over $reps")
      }
      t("range(1).count", 20)(spark.range(1).count())
      t("range(1e6,32p).count", 20)(spark.range(0, 1000000, 1, 32).count())
      t("noop write 1 row", 20)(
        spark.range(1).write.format("noop").mode("overwrite").save())
      t("noop write groupBy shuffle", 20)(
        spark.range(0, 1000000, 1, 32).groupBy((col("id") % 97).as("k")).count()
          .write.format("noop").mode("overwrite").save())
      t("noop write 2-shuffle", 20)(
        spark.range(0, 1000000, 1, 32).groupBy((col("id") % 97).as("k")).count()
          .orderBy("count").write.format("noop").mode("overwrite").save())
      t("read lineitem + agg", 10)(
        graft.Tables.lineitem(spark, sfDir).agg(count(lit(1))).write
          .format("noop").mode("overwrite").save())
      t("construct lineitem reader", 20) {
        graft.Tables.lineitem(spark, sfDir); ()
      }
    } else if (name == "floor_diag") {
      // Decompose the per-query fixed cost for a list of queries: plan
      // construction (q.run return) vs action, plus job/stage/task counts
      // via a listener — the "where does a 0.7 s query spend its time"
      // evidence for the optimization round.
      val names = if (args.length > 2) args(2).split(",").toSeq
        else Seq("q1_agg", "q_local_volume", "q_pmi", "q_tfidf")
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
      val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (t.taskMetrics != null)
            taskMs.addAndGet(t.taskMetrics.executorRunTime)
        }
      })
      for (n <- names) {
        val q = SparkEntryLookup.find(n)
        (1 to 4).foreach { i =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = q.run(spark, sfDir)
          val t1 = System.nanoTime()
          jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          Thread.sleep(100) // let listener drain
          println(f"$n pass $i: construct ${(t1 - t0) / 1e9}%.3f s  action ${(t2 - t1) / 1e9}%.3f s" +
            f"  jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} taskTime=${taskMs.get / 1e3}%.2f s")
          graft.ScratchCache.releaseAll()
        }
      }
    } else if (name == "minhash_stages") {
      import graft.Tables._
      import graft.text.TextFunctions._
      import org.apache.spark.sql.functions._
      val docs = documents(spark, sfDir).repartition(32)
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val w = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      t("tokens")(w.count())
      val sh = w.select(col("doc_id"), shinglesOf(col("w")).as("sh"))
      t("shingles")(sh.count())
      val sigs = sh.select(
        col("doc_id") +: (0 until MinhashK).map(j => minhashOf(col("sh"), j).as(s"h$j")): _*)
      t("sigs")(sigs.count())
      val bands = sigs
        .select(col("doc_id"), array((0 until 4).map(b =>
          concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))): _*).as("bvs"))
        .select(col("doc_id"), posexplode(col("bvs")).as(Seq("band", "bv")))
      t("bands")(bands.count())
      if (sys.env.contains("GRAFT_PLAN")) {
        println("=== bands optimized plan ===")
        println(bands.queryExecution.optimizedPlan.toString.take(8000))
        return
      }
      val bp = bands.persist()
      t("bands persist")(bp.count())
      val cand = bp.as("a").join(bp.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")).distinct()
      t("cand")(println("pairs: " + cand.count()))
      val shd = docs.select(col("doc_id"), tokens(col("text")).as("w"))
        .select(col("doc_id"), array_distinct(shinglesOf(col("w"))).as("s")).persist()
      t("sh persist")(shd.count())
      val jac = size(array_intersect(col("x.s"), col("y.s"))).cast("double") /
        size(array_distinct(concat(col("x.s"), col("y.s"))))
      val out = cand.join(shd.as("x"), col("id1") === col("x.doc_id"))
        .join(shd.as("y"), col("id2") === col("y.doc_id"))
        .select(col("id1"), col("id2"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      t("jaccard")(out.count())
    } else if (name == "tri_edge_diag") {
      import graft.Tables._
      import org.apache.spark.sql.functions._
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val pairsOf = (ss: org.apache.spark.sql.Column) => flatten(transform(ss, (x, i) =>
        transform(slice(ss, i + lit(2), size(ss)), y => struct(x.as("a"), y.as("b")))))
      (1 to 2).foreach { pass =>
        println(s"pass $pass")
        val sets = lineitem(spark, sfDir)
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
        t("sets")(sets.write.format("noop").mode("overwrite").save())
        val pairs = sets.select(explode(pairsOf(col("ss"))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
        t("pairs")(pairs.write.format("noop").mode("overwrite").save())
        val e = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= graft.queries.GraphQueries.TriMinShared)
        t("edges")(e.write.format("noop").mode("overwrite").save())
        if (pass == 2) println(pairs.queryExecution.executedPlan.toString.take(3500))
      }
    } else if (name == "triangles_stages") {
      import graft.Tables._
      import org.apache.spark.sql.functions._
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      (1 to 2).foreach { pass =>
        println(s"pass $pass")
        spark.catalog.clearCache()
        val li = lineitem(spark, sfDir).select(col("l_orderkey"), col("l_suppkey")).distinct()
        t("li distinct")(li.write.format("noop").mode("overwrite").save())
        val lic = li.persist()
        t("li persist")(lic.count())
        val e = lic.select(col("l_orderkey"), col("l_suppkey").as("a"))
          .join(lic.select(col("l_orderkey"), col("l_suppkey").as("b")), "l_orderkey")
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= graft.queries.GraphQueries.TriMinShared)
          .select(col("a"), col("b"))
        val ec = e.persist()
        t("edges persist")(ec.count())
        val deg = ec.select(col("a").as("node")).unionAll(ec.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        val degc = deg.persist()
        t("deg persist")(degc.count())
        val da = degc.select(col("node").as("a"), col("degree").as("dega"))
        val db = degc.select(col("node").as("b"), col("degree").as("degb"))
        val aLower = (col("dega") < col("degb")) ||
          (col("dega") === col("degb") && col("a") < col("b"))
        val oriented = ec.join(broadcast(da), "a").join(broadcast(db), "b")
          .select(
            when(aLower, col("a")).otherwise(col("b")).as("src"),
            when(aLower, col("b")).otherwise(col("a")).as("dst"),
            when(aLower, col("degb")).otherwise(col("dega")).as("degdst"))
        val oc = oriented.persist()
        t("oriented persist")(oc.count())
        val o1 = oc.select(col("src"), col("dst").as("v"), col("degdst").as("dv"))
        val o2 = oc.select(col("src"), col("dst").as("w"), col("degdst").as("dw"))
        val vLower = (col("dv") < col("dw")) ||
          (col("dv") === col("dw") && col("v") < col("w"))
        val wedges = o1.join(o2, "src").filter(vLower)
        val closure = oc.select(col("src").as("v"), col("dst").as("w"))
        val tris = wedges.join(closure, Seq("v", "w"))
          .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
        t("wedge+closure")(tris.write.format("noop").mode("overwrite").save())
        Seq(lic, ec, degc, oc).foreach(_.unpersist(true))
      }
    } else if (name == "ingest_throughput") {
      // packets/s and points/s through the full decode chain (encode UDF
      // excluded from the timed region by materializing raw first)
      import graft.Tables._
      import graft.solar._
      import org.apache.spark.sql.functions._
      val enc = udf((u: Long, t: Long, v: Double) => SolarSynth.encode(u, t, v))
      val topicOf = udf((u: Long) => SolarSynth.topicOf(u))
      val raw = events(spark, sfDir).repartition(spark.sparkContext.defaultParallelism).select(
        topicOf(col("user_id")).as("topic"),
        enc(col("user_id"), unix_timestamp(col("ts")), col("value")).as("payload"),
        col("ts").as("arrival")).persist()
      val nPackets = raw.count() // materialize: encode cost paid here
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        SolarIngest.points(raw).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val nPoints = 31L * nPackets / 3 + 14L * nPackets / 3 + 10L * nPackets / 3
        println(f"decode run $i: $dt%.2f s, $nPackets packets (${nPackets / dt}%.0f pkt/s), " +
          f"~$nPoints points (${nPoints / dt}%.0f pts/s)")
      }
    } else if (name == "neardup_diag") {
      // recall + candidate-count tradeoff of hyperplane-LSH blocking for
      // the cos>=0.35 near-dup query, vs the all-pairs ground truth
      import org.apache.spark.sql.functions._
      val all = graft.queries.SimilarityQueries.vecsOf(spark, sfDir).persist()
      val n = all.count()
      val cos = graft.expressions.VectorOps.dot(col("q.v"), col("c.v")) /
        (col("q.nrm") * col("c.nrm"))
      val truth = all.as("q").join(all.as("c"), col("q.vec_id") < col("c.vec_id"))
        .select(col("q.vec_id").as("id1"), col("c.vec_id").as("id2"), cos.as("cos"))
        .filter(col("cos") >= 0.35).persist()
      val nTruth = truth.count()
      println(s"n=$n truth pairs=$nTruth")
      truth.select(min("cos"), expr("percentile(cos, 0.1)"), expr("percentile(cos, 0.5)"), max("cos"))
        .show(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      for ((planes, tables) <- Seq((3, 6), (4, 6), (4, 8), (4, 12), (6, 8))) {
        val signs = Array.tabulate(tables * planes, 64) { (p, dd) =>
          val h = md.digest(s"nd:$planes:$p:$dd".getBytes("UTF-8"))
          if ((h(0) & 0x80) != 0) 1.0 else -1.0
        }
        val bucketed = all.select(
          col("vec_id") +: (0 until tables).map { t =>
            concat((0 until planes).map { p =>
              val proj = graft.expressions.VectorOps.dot(
                col("v"), typedLit(signs(t * planes + p).toSeq))
              when(proj >= 0, "1").otherwise("0")
            }: _*).as(s"b$t")
          }: _*)
        val tbl = bucketed.select(
          col("vec_id"),
          posexplode(array((0 until tables).map(t => col(s"b$t")): _*)).as(Seq("tbl", "bv")))
        val cand = tbl.as("a").join(tbl.as("b"),
            col("a.tbl") === col("b.tbl") && col("a.bv") === col("b.bv") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2")).distinct().persist()
        val nCand = cand.count()
        val hit = truth.join(cand, Seq("id1", "id2"), "left_semi").count()
        println(f"planes=$planes L=$tables cand=$nCand (${nCand * 2.0 / (n * (n - 1))}%.3f of all pairs) recall=${hit.toDouble / nTruth}%.3f")
        cand.unpersist()
      }
      // IVF blocking: candidates = pairs sharing any of their P probed cells
      import org.apache.spark.sql.expressions.Window
      for ((cells, probe) <- Seq((16, 1), (16, 2), (16, 3), (32, 2), (32, 3))) {
        val cents = all.filter(col("vec_id") < cells)
          .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
        val ccos = graft.expressions.VectorOps.dot(col("v"), col("cv")) /
          (col("nrm") * col("cnrm"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
        val probed = all.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"), ccos.as("ccos"))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= probe)
          .select(col("vec_id"), col("cid"))
        val cand = probed.as("a").join(probed.as("b"),
            col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2")).distinct().persist()
        val nCand = cand.count()
        val hit = truth.join(cand, Seq("id1", "id2"), "left_semi").count()
        println(f"ivf cells=$cells probe=$probe cand=$nCand (${nCand * 2.0 / (n * (n - 1))}%.3f of all pairs) recall=${hit.toDouble / nTruth}%.3f")
        cand.unpersist()
      }
    } else if (name == "gram_growth") {
      // Attribution rig for the round-9 in-battery monotone growth: run
      // the OLD declarative gram kernel (nested transform outer product →
      // posexplode → 4096-key groupBy, three boxed 4096-slot arrays per
      // row) for N passes with no inter-pass GC — exactly the battery's
      // per-query shape — and watch wall time, old-gen occupancy, and G1
      // concurrent-cycle count per pass; then the same for the GramFold
      // kernel that replaced it.
      import org.apache.spark.sql.functions._
      import java.lang.management.ManagementFactory
      import scala.jdk.CollectionConverters._
      def oldGenMb: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("Old Gen")).map(_.getUsage.getUsed).sum >> 20
      def concGc: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .filter(_.getName.toLowerCase.contains("concurrent"))
        .map(_.getCollectionCount.max(0L)).sum
      def gcSec: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3
      val dim = 64
      def oldKernel: org.apache.spark.sql.DataFrame = {
        val e = graft.Tables.embeddings(spark, sfDir)
          .transform(graft.Tables.spread(spark, _))
          .select(transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long")).as("qa"))
          .select(posexplode(flatten(
            transform(col("qa"), x => transform(col("qa"), y => x * y)))).as(Seq("pos", "prod")))
        e.groupBy((col("pos") / dim).cast("long").as("i"),
            pmod(col("pos"), lit(dim)).cast("long").as("j"))
          .agg(sum(col("prod").cast("decimal(38,0)")).as("sq"))
          .orderBy("i", "j")
      }
      def newKernel: org.apache.spark.sql.DataFrame = {
        graft.Tables.embeddings(spark, sfDir)
          .transform(graft.Tables.spread(spark, _))
          .select(transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long")).as("qa"))
          .agg(graft.expressions.GramFold.gramFold(col("qa"), dim).as("g"))
          .select(posexplode(col("g")).as(Seq("pos", "sq")))
          .orderBy("pos")
      }
      Seq("old" -> (() => oldKernel), "new" -> (() => newKernel)).foreach { case (label, k) =>
        System.gc() // battery does a full GC between queries
        (1 to 6).foreach { i =>
          val (g0, t0) = (gcSec, System.nanoTime())
          k().write.format("noop").mode("overwrite").save()
          println(f"$label pass $i: ${(System.nanoTime() - t0) / 1e9}%6.2f s  " +
            f"old_gen ${oldGenMb}%5d MB  conc_gc $concGc%3d  gc ${gcSec - g0}%5.2f s")
        }
      }
    } else if (name == "compact_stages") {
      // stage timing for q_compaction_exec: listing/read of the 2.5k-file
      // bucket vs plan vs rewrite vs rollup
      import org.apache.spark.sql.functions._
      import graft.operators.IndexStore
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      (1 to 2).foreach { pass =>
        println(s"pass $pass")
        val smallDir = IndexStore.dirFor(sfDir, "smallfiles")
        t("count src")(graft.Tables.lineitem(spark, sfDir).count())
        t("meta")(IndexStore.publishedCount(spark, smallDir))
        val small = IndexStore.read(spark, smallDir, "files", "day DATE, qty DECIMAL(27,2)")
        t("small count")(small.count())
        val f = small.groupBy(col("day")).agg(count(lit(1)).as("rows_"))
        val tt = f.agg(sum(col("rows_")).as("total"))
        val wC = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val dayGrp = f.crossJoin(broadcast(tt))
          .withColumn("__cum", sum(col("rows_")).over(wC).cast("long"))
          .select(col("day"),
            expr("(__cum - rows_) DIV greatest(1, total DIV 8)").cast("long").as("group_id"))
        t("plan")(dayGrp.count())
        val compactDir = IndexStore.dirFor(sfDir, "compacted")
        t("rewrite")(small.join(broadcast(dayGrp), "day")
          .repartition(col("group_id"))
          .write.mode("overwrite").partitionBy("group_id")
          .parquet(s"$compactDir/files"))
        t("rollup")(IndexStore.read(spark, compactDir, "files",
          "day DATE, qty DECIMAL(27,2), group_id LONG")
          .groupBy(col("group_id")).agg(count(lit(1))).collect())
      }
    } else if (name == "ivf_diag") {
      import graft.queries.SimilarityQueries._
      import org.apache.spark.sql.functions._
      val all = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("nrm", graft.expressions.VectorOps.l2norm(col("v")))
      def cellSizes(cents: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val centCos = graft.expressions.VectorOps.dot(col("v"), col("cv")) /
          (col("nrm") * col("cnrm"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
        val sizes = all.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"), centCos.as("ccos"))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") === 1)
          .groupBy("cid").count().orderBy(desc("count"))
          .collect().map(_.getLong(1))
        println(s"$label cell sizes: ${sizes.mkString(",")}")
      }
      val fixedCents = all.filter(col("vec_id") < IvfCells)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      cellSizes(fixedCents, "fixed")
      cellSizes(trainedCentroids(spark, sfDir), "trained")
    } else {
      val q = SparkEntryLookup.find(name)
      // same action as Bench (noop sink materializes all columns)
      (1 to 4).foreach { i =>
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      if (sys.env.contains("GRAFT_PLAN"))
        q.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

object SparkEntryLookup {
  def find(name: String): Q =
    graft.SparkEntry.registry.find(_.name == name).getOrElse(sys.error(s"no query $name"))
}
