package graft

import org.apache.spark.sql.SparkSession

/** North-rule scaling evidence: the same job at two parallelism levels —
  * N vs 4N cores, each level ONE fresh worker JVM (own heap, own GC,
  * `local[cores]`) over the same input, run sequentially. Sequential
  * single-JVM samples are the sanctioned no-real-cluster substitution;
  * the earlier concurrent 1-vs-4-process form measured sandbox co-tenant
  * interference instead of the engine (see Bench.main for the postmortem
  * numbers). Throughput = total features / max(worker timed sec).
  *
  * [[BenchClusterWorker]] is the per-executor main; [[BenchCluster]] forks
  * it via ProcessBuilder (classpath + add-opens inherited from this JVM).
  */
object BenchClusterWorker {
  def main(args: Array[String]): Unit = {
    val Array(cores, repFrom, repTo, repTotal) = args.take(4).map(_.toInt)
    val sfDir = if (args.length > 4) args(4) else "/root/testdata/sf0.1"
    val syncDir = if (args.length > 5) Some(args(5)) else None
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-worker-$repFrom")
      .config("spark.local.dir", Scratch.dir)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Size the timed scan's splits for the WIDE level: the cached entity
      // quarters are ~hundreds of sub-MB files, and the default 128 MB
      // maxPartitionBytes + 4 MB per-file open cost bin-packs them into
      // ~9 splits — 16 cores idle at 10/16 ≈ 0.63 busy while 4 cores stay
      // saturated, which shows up as a FAKE scaling-efficiency collapse
      // (measured 0.66 vs 0.97). Small splits cost ~ms of per-task
      // overhead against multi-second scans; on a real cluster this is
      // exactly "size maxPartitionBytes so every executor has waves".
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val containing = graft.ops.GeoExpressions.containingCol(
      spark, graft.sources.Layers.polygons(spark, sfDir), Pipeline.CellLevel)
    val knn = graft.ops.GeoExpressions.knnCol(
      spark, graft.sources.Layers.pois(spark, sfDir), Pipeline.K, Pipeline.CellLevel)
    // Phase A (untimed): materialize this worker's entity slice — the
    // north-rule metric is SPATIAL-JOIN + TILE throughput over an existing
    // table, not synthetic-input generation + regex. Also aligns worker
    // phases so no untimed pass overlaps a sibling's timed run.
    // Slices are materialized at FIXED QUARTER granularity and cached
    // across samples and pairs: the first sample (the wide level) writes
    // the four quarters once, so every later sample at either width reads
    // them back with ZERO materialization — the per-sample rewrite was the
    // single biggest per-pair wall cost and starved the budget down to one
    // pair (one pair = no min-of-samples defence against this sandbox's
    // co-tenant CPU bursts).
    val tMat0 = System.nanoTime()
    val q = repTotal / 4
    val quarters = (0 until 4).map(i => (i * q, if (i == 3) repTotal else (i + 1) * q))
      .filter { case (a, b) => a >= repFrom && b <= repTo }
    require(quarters.nonEmpty && quarters.head._1 == repFrom && quarters.last._2 == repTo,
      s"worker range [$repFrom,$repTo) must be quarter-aligned")
    val dirs = quarters.map { case (a, b) =>
      val d = s"${Scratch.dir}/graft_bench_ents_${repTotal}_${a}_${b}_" +
        Integer.toHexString(sfDir.hashCode)
      if (!new java.io.File(d, "_SUCCESS").exists()) {
        Pipeline.entitiesAmplifiedRange(spark, sfDir, a, b, repTotal)
          .select("url", "ent_idx", "lon", "lat")
          .write.mode("overwrite").parquet(d)
      }
      d
    }
    val ents = TableMemo.parquet(spark, dirs: _*)
    val feats = ents.count()
    val matSec = (System.nanoTime() - tMat0) / 1e9
    def job() = Pipeline.enrichPrebuilt(ents, containing, knn)
    force(job()) // warmup (JIT + codegen)
    // start barrier: signal ready, wait for coordinator's "go", so every
    // worker's TIMED section starts together (otherwise a late-booting
    // worker times itself against siblings in heavier phases)
    syncDir.foreach { d =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(d, s"ready_$repFrom"))
      val go = java.nio.file.Paths.get(d, "go")
      while (!java.nio.file.Files.exists(go)) Thread.sleep(20)
    }
    val t0 = System.nanoTime()
    force(job())
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[worker] from=$repFrom mat=$matSec%.1f timed=$sec%.3f " +
      s"scanParts=${ents.rdd.getNumPartitions}")
    println(f"WORKER from=$repFrom to=$repTo feats=$feats sec=$sec%.3f")
    // entDir deliberately NOT deleted: later sample pairs reuse it; the
    // coordinator (Bench) removes graft_bench_ents_* when the scaling
    // phase ends
    spark.stop()
  }
}

object BenchCluster {

  final case class ClusterRun(workers: Int, cores: Int, feats: Long, maxSec: Double) {
    def fps: Double = feats / maxSec
  }

  /** Launch `workers` JVMs, each `cores`-wide, over disjoint slices of
    * `repTotal`; returns total features and the max per-worker timed sec.
    * The scaling phase calls this with workers=1 at two different widths
    * (N vs 4N cores, one fresh JVM per sample, sequential — see Bench for
    * why the concurrent multi-JVM form is unmeasurable on this sandbox). */
  def run(workers: Int, cores: Int, repTotal: Int, sfDir: String): ClusterRun = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val slice = repTotal / workers
    val syncDir = java.nio.file.Files.createTempDirectory("graft-bench-sync").toString
    val procs = (0 until workers).map { w =>
      val from = w * slice
      val to = if (w == workers - 1) repTotal else (w + 1) * slice
      val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx10g", "-XX:+UseParallelGC", s"-XX:ParallelGCThreads=${math.max(2, cores / 2)}",
        "-Dspark.ui.enabled=false", s"-Djava.io.tmpdir=${Scratch.dir}",
        "-cp", cp, "graft.BenchClusterWorker",
        cores.toString, from.toString, to.toString, repTotal.toString, sfDir, syncDir)
      (from, new ProcessBuilder(cmd: _*).redirectErrorStream(true).start())
    }
    // release the start barrier once every worker is warmed up and ready
    val readyPaths = procs.map { case (from, _) =>
      java.nio.file.Paths.get(syncDir, s"ready_$from") }
    while (!readyPaths.forall(java.nio.file.Files.exists(_))) Thread.sleep(50)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(syncDir, "go"))
    val outputs = procs.map { case (_, p) =>
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      out
    }
    val stats = outputs.map { out =>
      // surface the workers' phase-timing diagnostics
      out.linesIterator.filter(_.startsWith("[worker]")).foreach(System.err.println)
      val line = out.linesIterator.find(_.startsWith("WORKER")).getOrElse(
        throw new IllegalStateException(s"worker failed:\n${out.takeRight(2000)}"))
      val kv = line.split(" ").collect { case s if s.contains("=") =>
        val Array(k, v) = s.split("="); k -> v }.toMap
      (kv("feats").toLong, kv("sec").toDouble)
    }
    System.err.println(s"[cluster] local[$cores] worker secs: ${stats.map(s => f"${s._2}%.2f").mkString(", ")}")
    ClusterRun(workers, cores, stats.map(_._1).sum, stats.map(_._2).max)
  }
}
