package graft

/** Records the healthy per-query shuffle-write BYTES of the entire
  * driver-contract surface at one scale factor — the generator for
  * `tools/movement_baseline_sf0001.json`, which MovementSpec turns
  * into an auto-derived ~4× byte budget for EVERY contract query
  * (the curated family budgets in that spec encode intent; this
  * baseline gives the long tail a regression net too).
  *
  * The session is the TEST session — the same `Session.local(4)`
  * call `TestSpark` makes — rather than Bench's local[32]: shuffle
  * bytes are deterministic for a fixed plan + data + partition
  * count, and the budgets are enforced under the test session.
  *
  * Regenerate deliberately after an intentional plan change:
  *   sbt 'runMain graft.MovementBaseline /root/testdata/sf0.001 \
  *     tools/movement_baseline_sf0001.json'
  */
object MovementBaseline {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "tools/movement_baseline_sf0001.json"
    val spark = Session.local(4)
    graft.plans.GraftFunctions.register(spark)

    val mv = new MovementMeter
    spark.sparkContext.addSparkListener(mv)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val before = mv.settled._2
      try q(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[movement] $name FAILED: ${e.getMessage}")
        throw e
      }
      val bytes = mv.settled._2 - before
      System.err.println(f"[movement] $name%-28s ${bytes / 1024}%8d KiB")
      s"""  "$name": $bytes"""
    }
    val json = s"{\n${rows.mkString(",\n")}\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[movement] wrote ${rows.length} baselines to $out")
    spark.stop()
  }
}
