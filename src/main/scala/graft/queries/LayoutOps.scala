package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{ScalableWindow, ZOrder}

/** Data-layout operators: queries that characterize HOW rows should be
  * laid out on disk, not just what they compute. The flagship is z-order
  * (Morton) clustering — the layout trick behind Delta/Iceberg OPTIMIZE
  * ZORDER — demonstrated as a cross-engine-checkable pruning experiment.
  *
  * Scale notes (100 TB):
  *   - the production write path is `ZOrder.cluster` (distributed
  *     approxQuantile bucket sketch → codegen interleave →
  *     repartitionByRange), covered by ZOrderSpec; a layout write is a
  *     global range-sort by construction, so its one ordering shuffle is
  *     irreducible;
  *   - the oracled twin below swaps the quantile sketch for exact
  *     min/max equi-width buckets (two scalar aggregates, broadcast) so
  *     both engines bucket bit-identically; the interleave is the SAME
  *     `ZOrder.interleaveBits` expression the production path uses;
  *   - the ntile file assignment stands in for the range partitioner:
  *     file id = position in the global z-order, which is exactly what
  *     `repartitionByRange(numFiles, $"_z")` produces at any scale.
  */
object LayoutOps {

  val qs: Seq[QueryDef] = Seq(
    // Z-order vs linear-sort layout, measured by file pruning: bucket
    // orders into a 64×64 grid over (o_custkey, o_totalprice), interleave
    // to a 12-bit z-value, cut the global order into 32 "files", and count
    // how many files a 1/8-selectivity range predicate on EACH dimension
    // must read given per-file min/max stats. Linear sort prunes only its
    // leading column (x: few files, y: all 32); z-order prunes both — the
    // reason multi-dimension scan workloads z-order at 100 TB.
    QueryDef(
      "layout_zorder_pruning",
      (s, d) => {
        val o = T(s, d, "orders")
          .withColumn("p2", expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)"))
        val st = o.agg(
          min("o_custkey").as("minc"), max("o_custkey").as("maxc"),
          min("p2").as("minp"), max("p2").as("maxp"))
        val b = o.crossJoin(broadcast(st))
          .withColumn("xb", expr("((o_custkey - minc) * 64) div (maxc - minc + 1)"))
          .withColumn("yb", expr("((p2 - minp) * 64) div (maxp - minp + 1)"))
          .withColumn("zval", ZOrder.interleaveBits(Seq(col("xb"), col("yb")), 6))
        // file assignment = global ntile, computed scale-safely (salted
        // local rank + broadcast offsets, see ScalableWindow) instead of
        // the single-partition WindowExec a bare Window.orderBy plans —
        // the values are identical, so the ntile-based oracle stays
        // green. Salts: zval div 64 (monotone 64-way split of the 12-bit
        // z space); xb*64+yb is the exact lexicographic rank of (xb,yb),
        // so its div 64 is a monotone split of the linear order.
        val filed = ScalableWindow.withGlobalNtile(
          ScalableWindow.withGlobalNtile(b, "fz", 32)(
            Seq(expr("zval div 64L")), col("zval"), col("o_orderkey")),
          "fl", 32)(
          Seq(expr("(xb * 64L + yb) div 64L")),
          col("xb"), col("yb"), col("o_orderkey"))
        def fileStats(fcol: String, layout: String) =
          filed.groupBy(col(fcol).as("fid"))
            .agg(min("xb").as("xmin"), max("xb").as("xmax"),
              min("yb").as("ymin"), max("yb").as("ymax"),
              count(lit(1)).as("nrows"))
            .withColumn("layout", lit(layout))
        val all = fileStats("fz", "zorder").unionByName(fileStats("fl", "linear"))
        all.groupBy("layout").agg(
          sum(when(col("xmax") >= 24 && col("xmin") <= 31, 1L).otherwise(0L))
            .cast("long").as("x_files"),
          sum(when(col("xmax") >= 24 && col("xmin") <= 31, col("nrows")).otherwise(0L))
            .cast("long").as("x_rows"),
          sum(when(col("ymax") >= 24 && col("ymin") <= 31, 1L).otherwise(0L))
            .cast("long").as("y_files"),
          sum(when(col("ymax") >= 24 && col("ymin") <= 31, col("nrows")).otherwise(0L))
            .cast("long").as("y_rows"))
          .orderBy("layout")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
             |    CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS p2 FROM orders),
             |st AS (SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
             |    min(p2) AS minp, max(p2) AS maxp FROM o),
             |b AS (SELECT o_orderkey,
             |    ((o_custkey - minc) * 64) // (maxc - minc + 1) AS xb,
             |    ((p2 - minp) * 64) // (maxp - minp + 1) AS yb
             |  FROM o CROSS JOIN st),
             |z AS (SELECT *, CAST(list_sum(list_transform(range(0, 6),
             |    i -> (((xb >> i) & 1) << (2 * i)) + (((yb >> i) & 1) << (2 * i + 1))))
             |    AS BIGINT) AS zval FROM b),
             |filed AS (SELECT *,
             |    ntile(32) OVER (ORDER BY zval, o_orderkey) AS fz,
             |    ntile(32) OVER (ORDER BY xb, yb, o_orderkey) AS fl FROM z),
             |sz AS (SELECT 'zorder' AS layout, fz AS fid,
             |    min(xb) AS xmin, max(xb) AS xmax, min(yb) AS ymin, max(yb) AS ymax,
             |    count(*) AS nrows FROM filed GROUP BY 1, 2),
             |sl AS (SELECT 'linear' AS layout, fl AS fid,
             |    min(xb) AS xmin, max(xb) AS xmax, min(yb) AS ymin, max(yb) AS ymax,
             |    count(*) AS nrows FROM filed GROUP BY 1, 2),
             |al AS (SELECT * FROM sz UNION ALL SELECT * FROM sl)
             |SELECT layout,
             |  CAST(sum(CASE WHEN xmax >= 24 AND xmin <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS x_files,
             |  CAST(sum(CASE WHEN xmax >= 24 AND xmin <= 31 THEN nrows ELSE 0 END) AS BIGINT) AS x_rows,
             |  CAST(sum(CASE WHEN ymax >= 24 AND ymin <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS y_files,
             |  CAST(sum(CASE WHEN ymax >= 24 AND ymin <= 31 THEN nrows ELSE 0 END) AS BIGINT) AS y_rows
             |FROM al GROUP BY layout ORDER BY layout""".stripMargin)
    ),

    // Hilbert-curve vs z-order layout, same pruning experiment as the
    // z-order twin: the Hilbert index preserves locality strictly better
    // than Morton (no diagonal jumps), which is why Iceberg/Hudi expose it
    // as the premium clustering option. The 6-bit-per-dim xy→d transform
    // is the classic 6-step rotate-and-flip recurrence, unrolled; every
    // step is integer CASE arithmetic over (hx, hy, hd), expressed with
    // the SAME generated SQL text in both engines (the XOR in
    // d += s²·((3·rx)⊕ry) is expanded into a CASE table so neither
    // engine's xor operator semantics are in play). At 100 TB the
    // transform is a map-side projection inside one whole-stage-codegen
    // span; the ntile stands in for repartitionByRange exactly as
    // documented on the z-order twin.
    QueryDef(
      "layout_hilbert_pruning",
      (s, d) => {
        def stepSql(ss: Long): Seq[String] = Seq(
          s"CASE WHEN (hy & $ss) > 0 THEN hx WHEN (hx & $ss) > 0 THEN $ss - 1 - hy ELSE hy END",
          s"CASE WHEN (hy & $ss) > 0 THEN hy WHEN (hx & $ss) > 0 THEN $ss - 1 - hx ELSE hx END",
          s"hd + ${ss * ss} * (CASE WHEN (hx & $ss) > 0 THEN " +
            s"(CASE WHEN (hy & $ss) > 0 THEN 2 ELSE 3 END) ELSE " +
            s"(CASE WHEN (hy & $ss) > 0 THEN 1 ELSE 0 END) END)")
        val o = T(s, d, "orders")
          .withColumn("p2", expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)"))
        val st = o.agg(
          min("o_custkey").as("minc"), max("o_custkey").as("maxc"),
          min("p2").as("minp"), max("p2").as("maxp"))
        val b = o.crossJoin(broadcast(st))
          .withColumn("xb", expr("((o_custkey - minc) * 64) div (maxc - minc + 1)"))
          .withColumn("yb", expr("((p2 - minp) * 64) div (maxp - minp + 1)"))
          .withColumn("zval", ZOrder.interleaveBits(Seq(col("xb"), col("yb")), 6))
        var cur = b.select(col("o_orderkey"), col("xb"), col("yb"), col("zval"),
          col("xb").as("hx"), col("yb").as("hy"), lit(0L).as("hd"))
        for (ss <- Seq(32L, 16L, 8L, 4L, 2L, 1L)) {
          val Seq(ex, ey, ed) = stepSql(ss)
          cur = cur.select(col("o_orderkey"), col("xb"), col("yb"), col("zval"),
            expr(ex).as("hx2"), expr(ey).as("hy2"), expr(ed).as("hd2"))
            .withColumnRenamed("hx2", "hx").withColumnRenamed("hy2", "hy")
            .withColumnRenamed("hd2", "hd")
        }
        // scale-safe global ntile (see the z-order twin above); hd and
        // zval are both 12-bit curve indices, div 64 = monotone 64-way salt
        val filed = ScalableWindow.withGlobalNtile(
          ScalableWindow.withGlobalNtile(cur, "fh", 32)(
            Seq(expr("hd div 64L")), col("hd"), col("o_orderkey")),
          "fz", 32)(Seq(expr("zval div 64L")), col("zval"), col("o_orderkey"))
        def fileStats(fcol: String, layout: String) =
          filed.groupBy(col(fcol).as("fid"))
            .agg(min("xb").as("xmin"), max("xb").as("xmax"),
              min("yb").as("ymin"), max("yb").as("ymax"),
              count(lit(1)).as("nrows"))
            .withColumn("layout", lit(layout))
        val all = fileStats("fh", "hilbert").unionByName(fileStats("fz", "zorder"))
        all.groupBy("layout").agg(
          sum(when(col("xmax") >= 24 && col("xmin") <= 31, 1L).otherwise(0L))
            .cast("long").as("x_files"),
          sum(when(col("xmax") >= 24 && col("xmin") <= 31, col("nrows")).otherwise(0L))
            .cast("long").as("x_rows"),
          sum(when(col("ymax") >= 24 && col("ymin") <= 31, 1L).otherwise(0L))
            .cast("long").as("y_files"),
          sum(when(col("ymax") >= 24 && col("ymin") <= 31, col("nrows")).otherwise(0L))
            .cast("long").as("y_rows"))
          .orderBy("layout")
      },
      Some {
        val steps = Seq(32L, 16L, 8L, 4L, 2L, 1L).zipWithIndex.map { case (ss, i) =>
          s"""h${i + 1} AS (SELECT o_orderkey, xb, yb, zval,
             |  CASE WHEN (hy & $ss) > 0 THEN hx WHEN (hx & $ss) > 0 THEN $ss - 1 - hy ELSE hy END AS hx,
             |  CASE WHEN (hy & $ss) > 0 THEN hy WHEN (hx & $ss) > 0 THEN $ss - 1 - hx ELSE hx END AS hy,
             |  hd + ${ss * ss} * (CASE WHEN (hx & $ss) > 0 THEN
             |    (CASE WHEN (hy & $ss) > 0 THEN 2 ELSE 3 END) ELSE
             |    (CASE WHEN (hy & $ss) > 0 THEN 1 ELSE 0 END) END) AS hd
             |  FROM h$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH o AS (SELECT o_orderkey, o_custkey,
           |    CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS p2 FROM orders),
           |st AS (SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
           |    min(p2) AS minp, max(p2) AS maxp FROM o),
           |b AS (SELECT o_orderkey,
           |    ((o_custkey - minc) * 64) // (maxc - minc + 1) AS xb,
           |    ((p2 - minp) * 64) // (maxp - minp + 1) AS yb
           |  FROM o CROSS JOIN st),
           |h0 AS (SELECT *, CAST(list_sum(list_transform(range(0, 6),
           |    i -> (((xb >> i) & 1) << (2 * i)) + (((yb >> i) & 1) << (2 * i + 1))))
           |    AS BIGINT) AS zval,
           |    xb AS hx, yb AS hy, CAST(0 AS BIGINT) AS hd FROM b),
           |$steps,
           |filed AS (SELECT *,
           |    ntile(32) OVER (ORDER BY hd, o_orderkey) AS fh,
           |    ntile(32) OVER (ORDER BY zval, o_orderkey) AS fz FROM h6),
           |sh AS (SELECT 'hilbert' AS layout, fh AS fid,
           |    min(xb) AS xmin, max(xb) AS xmax, min(yb) AS ymin, max(yb) AS ymax,
           |    count(*) AS nrows FROM filed GROUP BY 1, 2),
           |sz AS (SELECT 'zorder' AS layout, fz AS fid,
           |    min(xb) AS xmin, max(xb) AS xmax, min(yb) AS ymin, max(yb) AS ymax,
           |    count(*) AS nrows FROM filed GROUP BY 1, 2),
           |al AS (SELECT * FROM sh UNION ALL SELECT * FROM sz)
           |SELECT layout,
           |  CAST(sum(CASE WHEN xmax >= 24 AND xmin <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS x_files,
           |  CAST(sum(CASE WHEN xmax >= 24 AND xmin <= 31 THEN nrows ELSE 0 END) AS BIGINT) AS x_rows,
           |  CAST(sum(CASE WHEN ymax >= 24 AND ymin <= 31 THEN 1 ELSE 0 END) AS BIGINT) AS y_files,
           |  CAST(sum(CASE WHEN ymax >= 24 AND ymin <= 31 THEN nrows ELSE 0 END) AS BIGINT) AS y_rows
           |FROM al GROUP BY layout ORDER BY layout""".stripMargin
      }
    ),

    // Small-file compaction planner: roll the orders table up to month
    // partitions, estimate each partition's on-disk bytes from row widths,
    // and assign partitions to output files by next-fit over the cumulative
    // size (file_id = cum_bytes_before * 8 / total_bytes, integer math) —
    // the planning half of an OPTIMIZE/compaction pass, which decides which
    // adjacent partitions coalesce into ~total/8-byte files WITHOUT breaking
    // partition-key order (so min/max pruning on the key survives
    // compaction). Scale shape: the rollup is one partial-agged groupBy on
    // the month; the planner itself then runs over PARTITION STATS — at
    // 100 TB that is thousands of rows of metadata, not data, so its single
    // global window (the irreducible sequential cumsum any bin-packer
    // needs) is driver-scale by construction. All-integer arithmetic, so
    // the plan is bit-identical cross-engine.
    QueryDef(
      "layout_compaction_plan",
      (s, d) => {
        val parts = T(s, d, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part_key"))
          .agg(count(lit(1)).as("n_rows"),
            sum(octet_length(col("o_orderstatus")).cast("long") +
              octet_length(col("o_orderpriority")).cast("long") + lit(40L))
              .as("est_bytes"))
        val w = Window.orderBy("part_key")
        parts
          .withColumn("cum_before",
            coalesce(sum("est_bytes").over(w) - col("est_bytes"), lit(0L)))
          .withColumn("total", sum("est_bytes").over(
            Window.partitionBy(lit(1))))
          .select(col("part_key"), col("n_rows"), col("est_bytes"),
            expr("(cum_before * 8) div total").as("file_id"))
          .orderBy("part_key")
      },
      Some("""WITH p AS (SELECT strftime(o_orderdate, '%Y-%m') AS part_key,
             |    count(*) AS n_rows,
             |    CAST(sum(strlen(o_orderstatus) +
             |             strlen(o_orderpriority) + 40) AS BIGINT) AS est_bytes
             |  FROM orders GROUP BY 1),
             |c AS (SELECT part_key, n_rows, est_bytes,
             |    CAST(sum(est_bytes) OVER (ORDER BY part_key) - est_bytes AS BIGINT) AS cum_before,
             |    CAST(sum(est_bytes) OVER () AS BIGINT) AS total FROM p)
             |SELECT part_key, n_rows, est_bytes,
             |  (cum_before * 8) // total AS file_id
             |FROM c ORDER BY part_key""".stripMargin)
    ),

    // Compaction EXECUTION (the planner's twin): stage the table as
    // genuinely fragmented parquet (per-month dirs, ≤200 rows/file →
    // hundreds of small files), apply the same next-fit bin assignment,
    // and rewrite with repartition(file_id) + partitionBy(file_id) so
    // each bin lands in exactly ONE output file. The result is read BACK
    // from the compacted layout and audited per bin: row count, exact
    // cent sum, and the distinct physical file count via
    // input_file_name() — so "compaction preserved every row and
    // actually produced one file per bin" is the oracled claim, not an
    // assumption. The oracle recomputes bins + sums from the source
    // table; n_files = 1 is part of the compared output.
    QueryDef(
      "layout_compaction_execute",
      (s, d) => {
        val monthly = T(s, d, "orders")
          .withColumn("part_key", date_format(col("o_orderdate"), "yyyy-MM"))
          .withColumn("cents", expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)"))
          .select("o_orderkey", "part_key", "cents")
        val fragDir = graft.streaming.Scratch.dir("graft_frag")
        monthly.write.mode("overwrite").option("maxRecordsPerFile", 200)
          .partitionBy("part_key").parquet(fragDir.toString)
        val frag = s.read.parquet(fragDir.toString)
        // next-fit plan (same math as layout_compaction_plan)
        val parts = frag.groupBy("part_key").agg(sum(lit(40L) + lit(8L)).as("est_bytes"))
        val w = Window.orderBy("part_key")
        val plan = parts
          .withColumn("cum_before",
            coalesce(sum("est_bytes").over(w) - col("est_bytes"), lit(0L)))
          .withColumn("total", sum("est_bytes").over(Window.partitionBy(lit(1))))
          .select(col("part_key"), expr("(cum_before * 8) div total").as("file_id"))
        val outDir = graft.streaming.Scratch.dir("graft_compacted")
        frag.join(broadcast(plan), Seq("part_key"))
          .repartition(col("file_id"))
          .write.mode("overwrite").partitionBy("file_id").parquet(outDir.toString)
        s.read.parquet(outDir.toString)
          .withColumn("fname", input_file_name()) // materialize at scan
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
            countDistinct(col("fname")).as("n_files"))
          .withColumn("file_id", col("file_id").cast("long"))
          .orderBy("file_id")
      },
      Some("""WITH p AS (SELECT strftime(o_orderdate, '%Y-%m') AS part_key,
             |    count(*) AS n_rows,
             |    CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
             |    CAST(count(*) * 48 AS BIGINT) AS est_bytes
             |  FROM orders GROUP BY 1),
             |c AS (SELECT part_key, n_rows, sum_cents, est_bytes,
             |    CAST(sum(est_bytes) OVER (ORDER BY part_key) - est_bytes AS BIGINT) AS cum_before,
             |    CAST(sum(est_bytes) OVER () AS BIGINT) AS total FROM p)
             |SELECT (cum_before * 8) // total AS file_id,
             |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
             |  CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS n_files
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Clustering-depth metric: model each orderkey-range "file" (1000 keys
    // per file — the ingest order) by its o_totalprice min/max zone map,
    // then measure how many files' ranges overlap at the worst point via
    // the +1/−1 endpoint sweep. Depth ≈ 1 means a point predicate on the
    // column prunes to one file; depth ≈ n_files means the column is
    // unclustered and a sort/z-order rewrite pays off — this is the number
    // a table-maintenance service uses to SCHEDULE layout_zorder/compaction
    // work. One aggregate to zone maps (n_files rows), sweep over 2·n_files
    // endpoints.
    QueryDef(
      "layout_clustering_depth",
      (s, d) => {
        val zones = T(s, d, "orders")
          .groupBy(expr("o_orderkey div 1000L").as("f"))
          .agg(min(expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)")).as("lo"),
            max(expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)")).as("hi"))
        val pts = zones.select(col("lo").as("t"), lit(1L).as("delta"))
          .unionAll(zones.select(col("hi").as("t"), lit(-1L).as("delta")))
        // the interval sweep's running sum is over 2·|zones| endpoint
        // rows — a frame that GROWS with the data — so it runs through
        // the salted two-phase cumsum (ScalableWindow), not a global
        // window; t is cents in [~1e5, ~6e7], div 1e6 ≈ 60 salt groups.
        // Within a (t, delta) tie the row order is arbitrary but the
        // running values form the same multiset (each row adds an equal
        // delta), so max(running) and its argmin-t are unchanged.
        val sweep = graft.operators.ScalableWindow.withGlobalCumSum(
          pts, "running", col("delta"))(
          Seq(expr("t div 1000000L")), col("t"), col("delta").desc)
        val peak = sweep.agg(max("running").as("max_depth"))
        val nf = zones.agg(count(lit(1)).as("n_files"))
        sweep.crossJoin(broadcast(peak))
          .where(col("running") === col("max_depth"))
          .agg(min("t").as("worst_point_cents"))
          .crossJoin(broadcast(peak))
          .crossJoin(broadcast(nf))
          .select(col("n_files").cast("long").as("n_files"),
            col("max_depth").cast("long").as("max_depth"),
            col("worst_point_cents"))
      },
      Some("""WITH zones AS (SELECT o_orderkey // 1000 AS f,
             |    min(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS lo,
             |    max(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS hi
             |  FROM orders GROUP BY 1),
             |pts AS (SELECT lo AS t, CAST(1 AS BIGINT) AS delta FROM zones
             |  UNION ALL SELECT hi AS t, CAST(-1 AS BIGINT) AS delta FROM zones),
             |sweep AS (SELECT t, delta, CAST(sum(delta) OVER (ORDER BY t, delta DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
             |  FROM pts),
             |pk AS (SELECT max(running) AS max_depth FROM sweep),
             |nf AS (SELECT count(*) AS n_files FROM zones)
             |SELECT CAST(nf.n_files AS BIGINT) AS n_files,
             |  CAST(pk.max_depth AS BIGINT) AS max_depth,
             |  (SELECT min(t) FROM sweep, pk WHERE running = pk.max_depth) AS worst_point_cents
             |FROM nf, pk""".stripMargin)
    )
  )
}
