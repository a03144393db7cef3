package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for stress sweeps beyond the provided fixtures:
  * replicates a source sf directory `factor`× with shifted ids, so
  * operator scaling curves extend to sizes the driver doesn't ship
  * (e.g. sf0.1 → sf1). Usage:
  *
  *   runMain graft.GenScale <srcSfDir> <outDir> <factor>
  *
  * Replication is NOT naive copying where that would distort an
  * operator's workload shape:
  *  - documents text is vowel-rotated per copy — verbatim copies
  *    would plant factor-sized exact-dup cliques and the near-dup
  *    queries would measure an artificial candidate explosion, not
  *    scaling;
  *  - embeddings get ±0.25 deterministic per-element noise per copy
  *    (hash-derived, copy 0 untouched) so cross-copy cosine falls
  *    well under the near-dup threshold;
  *  - facts (orders, lineitem, events) shift their keys in lockstep
  *    so joins stay consistent; dims (region, nation, customer,
  *    supplier, part) stay fixed, exactly as TPC-H scaling does.
  * events is written as a SINGLE parquet file with ts as a real
  * TIMESTAMP(MICROS) column — the same shape the driver fixtures have
  * (one file per table, timestamp-typed ts) — so the streaming keys'
  * file source and DuckDB timestamp oracles both work on a scaled
  * corpus. Copies densify each user's timeline 10× — sessions gain
  * events, as-of right arrays gain versions: the stress shape a 10×
  * data growth actually has.
  */
object GenScale {

  def main(args: Array[String]): Unit = Tables.withSession { spark =>
    val Array(srcDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    // the per-copy text rotations (below) are distinct only while
    // 13*i stays unique mod 35 — enough for any realistic sweep
    require(factor <= 35, s"factor $factor > 35 would repeat a text rotation")

    // raw reads: events must keep its int64 ts exactly as stored
    def raw(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    // The copy shift must clear the SOURCE corpus's whole key range,
    // not a constant: a fixed 10^7 made GenScale non-composable —
    // re-scaling an already-scaled corpus (sf1 → sf10) overlapped the
    // copies' id ranges and silently planted ~4×10^5 duplicate doc
    // ids (caught as a DIVIDE_BY_ZERO in the jaccard verifier: |∩|
    // exceeded the set sizes). Derived as the next power of ten past
    // every keyed table's max id, so ids stay readable and joins stay
    // consistent across copies. NOTE on double-scaling text: composed
    // alphabet rotations can land two copy combinations on the same
    // total offset (pigeonhole past 36 combos), planting bounded
    // verbatim cross-copy dup cliques — fine for volume/shape stress
    // probes, NOT for dedup precision/recall claims; use a single
    // GenScale hop from a driver fixture for those.
    val shift: Long = {
      val maxId = Seq(
        raw("orders").agg(max(col("o_orderkey"))).head.getLong(0),
        raw("events").agg(max(col("event_id"))).head.getLong(0),
        raw("documents").agg(max(col("doc_id"))).head.getLong(0),
        raw("embeddings").agg(max(col("vec_id"))).head.getLong(0)).max
      // dedup keys plant +1e6/+2e6 shadow copies of docs/vectors at
      // RUNTIME, so the shift must clear the shadow-EXTENDED range
      // maxId + 2e6, not max(maxId, 2e6): a corpus whose max id falls
      // within 2e6 below a power of ten would otherwise let copy 0's
      // shadow clones collide with copy 1's real id range
      var s = 10000000L
      while (s <= maxId + 2000000L) s *= 10
      s
    }
    println(s"[gen] shift=$shift")

    def out(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionAll _)

    // dims: fixed, like TPC-H
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => out(t, raw(t)))

    out("orders", copies(raw("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * shift)
    })
    out("lineitem", copies(raw("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * shift)
    })
    // events: single file + a real timestamp column (driver-fixture
    // shape): the streaming file source globs `events.parquet` as a
    // FILE, and DuckDB oracles need ts as a timestamp, not raw int64
    // nanos — so convert nanos→micros on write (the same truncation
    // Tables.load applies on read) and collapse to one part file
    val eventsRaw = raw("events")
    val eventsScaled0 = copies(eventsRaw) { (d, i) =>
      d.withColumn("event_id", col("event_id") + i * shift)
    }
    // old fixtures: int64 nanos (under nanosAsLong) → truncate to a
    // real timestamp; new fixtures: already TIMESTAMP(MICROS) — keep
    val eventsScaled =
      if (eventsRaw.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
        eventsScaled0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else eventsScaled0
    writeSingleFile(eventsScaled, s"$outDir/events.parquet")
    println(s"[gen] events: ${spark.read.parquet(s"$outDir/events.parquet").count()} rows")

    // full alphabet+digit rotation per copy: EVERY token mutates, so
    // no shingle survives across copies (a vowel-only rotation left
    // consonant/digit tokens identical, planting cross-copy shingle
    // collisions that exploded the near-dup candidate space ~6x —
    // a generator artifact, not an operator cost)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    def rot(off: Int): String =
      alpha.drop(off % alpha.length) + alpha.take(off % alpha.length)
    // offset 1 + (13*i mod 35) lands in [1,35]: never 0 mod 36 (an
    // offset ≡ 0 is the IDENTITY rotation — the old 7*i+1 scheme hit
    // it at copy 5, planting verbatim cross-copy duplicates), and
    // gcd(13,35)=1 keeps offsets distinct across copies ≤ 35
    out("documents", copies(raw("documents")) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + i * shift)
        .withColumn("text",
          if (i == 0) col("text")
          else translate(col("text"), alpha, rot(1 + (13 * i) % 35)))
    })
    out("embeddings", copies(raw("embeddings")) { (d, i) =>
      val noised =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          x + ((pmod(xxhash64(j, lit(i)), lit(1000)).cast("double") / 1000.0
            - 0.5) * 0.5).cast("float"))
      d.withColumn("vec_id", col("vec_id") + i * shift)
        .withColumn("embedding", noised)
    })
  }

  /** Spark writes directories; the driver fixtures are single FILES
    * named `<table>.parquet` (which the streaming source's
    * pathGlobFilter relies on). Collapse a one-partition write to
    * that shape: write to a temp dir, move the part file, clean up. */
  private def writeSingleFile(df: org.apache.spark.sql.Dataset[_],
      target: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = target + "._tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(target)) // prior run may have left a dir here
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    Files.move(part.toPath, Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
    rm(new java.io.File(tmp))
  }
}
