package graft

import org.apache.spark.sql.SparkSession

/** Focused query timing for iteration: `Test/runMain graft.QuickTime
  * <sfDir> <reps> <query...>` — runs each named SparkEntry query `reps`
  * times under noop write and prints per-rep walls + min.
  */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq
                else Seq("dedup_ngram", "dedup_minhash")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-quicktime")
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (name == "x_ngram_str") { (s, dir) =>
          // string-keyed ngram variant (pre-round-3 shape) for A/B
          import s.implicits._
          import org.apache.spark.sql.functions._
          graft.GraftExtensions.registerFunctions(s)
          val ds = s.read.parquet(s"$dir/documents.parquet")
            .selectExpr("doc_id", "source", "graft_shingles(text) AS sh")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val inv = ds.select($"doc_id", $"source", explode($"sh").as("s"))
          val viral = inv.groupBy($"source", $"s").agg(count(lit(1)).as("df"))
            .filter($"df" > graft.operators.DedupOps.MaxDf).select("source", "s")
          val kept = inv.join(viral, Seq("source", "s"), "left_anti")
          val cand = kept.as("a").join(kept.as("b"),
              $"a.s" === $"b.s" && $"a.source" === $"b.source" &&
                $"a.doc_id" < $"b.doc_id")
            .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
            .distinct()
          val sides = cand.select($"doc_a", $"doc_b",
            explode(array($"doc_a", $"doc_b")).as("doc_id"))
          sides.join(ds.select($"doc_id", $"sh"), "doc_id")
            .groupBy($"doc_a", $"doc_b")
            .agg(first(when($"doc_id" === $"doc_a", $"sh"), ignoreNulls = true).as("sh_a"),
                 first(when($"doc_id" === $"doc_b", $"sh"), ignoreNulls = true).as("sh_b"))
            .select($"doc_a", $"doc_b",
              size(array_intersect($"sh_a", $"sh_b")).cast("long").as("jacc_i"),
              size(array_union($"sh_a", $"sh_b")).cast("long").as("jacc_u"))
            .filter($"jacc_i" * 10 >= $"jacc_u" * 3)
        } else if (name == "x_ngram_grp") { (s, dir) =>
          // group-by-bucket pair generation: ONE exchange of the index
          // (groupBy k) + in-bucket C(n,2) expansion, vs the self-join's
          // two exchanges of kept. Bucket size bounded by MaxDf=128.
          import s.implicits._
          import org.apache.spark.sql.functions._
          graft.GraftExtensions.registerFunctions(s)
          val ds = s.read.parquet(s"$dir/documents.parquet")
            .selectExpr("doc_id", "graft_shingles(text) AS sh",
              "graft_shingle_keys(source, text) AS ks")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val inv = ds.select($"doc_id", explode($"ks").as("k"))
          val cand = inv.groupBy($"k")
            .agg(collect_list($"doc_id").as("ids"))
            .filter(size($"ids").between(2, graft.operators.DedupOps.MaxDf))
            .select(explode(expr(
              """flatten(transform(sequence(0, size(ids)-2), i ->
                |  transform(sequence(i+1, size(ids)-1), j ->
                |    struct(least(ids[i], ids[j]) AS doc_a,
                |           greatest(ids[i], ids[j]) AS doc_b))))"""
                .stripMargin)).as("p"))
            .select($"p.doc_a", $"p.doc_b")
            .distinct()
          val sides = cand.select($"doc_a", $"doc_b",
            explode(array($"doc_a", $"doc_b")).as("doc_id"))
          sides.join(ds.select($"doc_id", $"sh"), "doc_id")
            .groupBy($"doc_a", $"doc_b")
            .agg(first(when($"doc_id" === $"doc_a", $"sh"), ignoreNulls = true).as("sh_a"),
                 first(when($"doc_id" === $"doc_b", $"sh"), ignoreNulls = true).as("sh_b"))
            .select($"doc_a", $"doc_b",
              size(array_intersect($"sh_a", $"sh_b")).cast("long").as("jacc_i"),
              size(array_union($"sh_a", $"sh_b")).cast("long").as("jacc_u"))
            .filter($"jacc_i" * 10 >= $"jacc_u" * 3)
        } else if (name == "x_ngram_cand") { (s, dir) =>
          // candidate-generation subplan of dedup_ngram, for profiling
          import s.implicits._
          import org.apache.spark.sql.functions._
          graft.GraftExtensions.registerFunctions(s)
          val ds = s.read.parquet(s"$dir/documents.parquet")
            .selectExpr("doc_id", "source", "graft_shingles(text) AS sh")
          val inv = ds.select($"doc_id", $"source", explode($"sh").as("s"))
          val viral = inv.groupBy($"source", $"s").agg(count(lit(1)).as("df"))
            .filter($"df" > graft.operators.DedupOps.MaxDf).select("source", "s")
          val kept = inv.join(viral, Seq("source", "s"), "left_anti")
          kept.as("a").join(kept.as("b"),
              $"a.s" === $"b.s" && $"a.source" === $"b.source" &&
                $"a.doc_id" < $"b.doc_id")
            .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
            .distinct()
        } else SparkEntry.queries(name)
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"QUICKTIME $name%-20s min=${walls.min}%6.2f  " +
        walls.map(w => f"$w%5.2f").mkString(" "))
    }
    spark.stop()
  }
}
