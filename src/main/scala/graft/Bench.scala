package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional comma-separated query filter for focused runs (dev tooling;
    // the driver never sets it, so its runs cover everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    val spark = Engine.session(s"local[$cpus]")
    // Warmup pass: JIT + codegen + parquet footer caching dominate first
    // execution on a fresh JVM; report steady-state numbers.
    selected.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    // Two timed passes, min per query: a single pass is hostage to GC
    // pauses and machine load landing on individual queries. A pass that
    // THREW records +∞, never its time-to-failure — a broken query must
    // not masquerade as a fast success in the round's benchmark artifact.
    def timedPass(): Map[String, Double] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
      }
    val (p1, p2) = (timedPass(), timedPass())
    // Variance guard: min-of-two still records a poisoned number when
    // concurrent machine load lands on BOTH passes of one query. When the
    // two timings disagree >2× (beyond sub-100ms jitter), take a third
    // pass and keep the overall min. (A one-pass failure also lands here
    // via its ∞ and gets the extra attempt.)
    val results = p1.map { case (k, v) =>
      val best = math.min(v, p2(k))
      val guarded =
        if (math.max(v, p2(k)) > 2 * best && best > 0.1) {
          val t0 = System.nanoTime()
          val ok = try { selected(k)(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
          if (ok) math.min(best, (System.nanoTime() - t0) / 1e9) else best
        } else best
      k -> guarded
    }
    // Pass-to-pass spread per query (max/min of the two timed passes):
    // the round-over-round reader's ambient-load signal. A high median
    // spread says the HOST was noisy and cross-round deltas of that size
    // carry no code-change information; n_over_2x counts queries whose
    // passes disagreed enough to trigger the third-pass guard.
    val spreads = p1.collect {
      case (k, a) if !a.isInfinity && !p2(k).isInfinity && math.min(a, p2(k)) > 0 =>
        math.max(a, p2(k)) / math.min(a, p2(k))
    }.toSeq.sorted
    val varianceJson =
      if (spreads.isEmpty) ""
      else s""","variance":{"median_spread":${spreads(spreads.size / 2)},""" +
        s""""max_spread":${spreads.last},"n_over_2x":${spreads.count(_ > 2.0)}}"""
    // failed queries (∞ in every pass) are reported by name, not by a
    // bogus timing; the total covers successes only
    val (failed, timed) = results.partition(_._2.isInfinity)
    val queriesJson = timed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else failed.keys.toSeq.sorted.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
    val total = if (timed.nonEmpty) timed.values.sum else 0.0
    // Two channels. Readers take stdout through a bounded tail capture
    // that the per-query map (~4.5 KB for 172 names at any precision)
    // overflows, so the map goes to a sidecar only, at full precision
    // (with the variance block, which also keeps its own stdout line);
    // the final stdout line carries the total, the failed list and a
    // pointer to the sidecar. The default sidecar name carries the core
    // count and scale, so runs at different core counts or scales do not
    // overwrite each other. Double.toString and Locale.ROOT keep every
    // number dot-decimal — a comma-decimal default locale would
    // otherwise write invalid JSON.
    val sfTag = new java.io.File(sfDir).getName.stripPrefix("sf")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      s"bench_per_query_c${cpus}_sf$sfTag.json")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$queriesJson$failedJson$varianceJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // reporting must never fail the bench
    if (varianceJson.nonEmpty) println("{" + varianceJson.drop(1) + "}")
    val totalStr = "%.4f".formatLocal(java.util.Locale.ROOT, total)
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec"$failedJson,"per_query_file":"$sidecar"}""")
    spark.stop()
  }
}
