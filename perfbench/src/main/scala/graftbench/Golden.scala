package graftbench

import java.nio.file.Paths

import graft.SparkEntry

/** Generates the golden digests of the `traverse` and `analytics` pools.
  * Each result is also written as parquet under `--out`, with the
  * registered oracle SQL in `oracle_sql.json`, so that
  * `python3 tools/check.py <data dir> <out>` can cross-check it against
  * DuckDB. Each digest is taken twice and must agree with itself.
  */
object Golden {
  def run(o: Opts): Unit = {
    val work = Paths.get(o.work)
    val spark = Session.start(work)
    val ctx = new Ctx(spark, new Tracer(false), o.data, o.warm, work, Map.empty)
    val sf = Paths.get(o.data).getFileName.toString
    val names = Traverse.defaultPool ++ Analytics.defaultPool
    val traverse = new Traverse(ctx, Nil)
    val analytics = new Analytics(ctx, Nil)
    val rows = names.map { n =>
      def result() =
        if (n.startsWith("a_")) analytics.result(n, o.data)
        else traverse.result(n, o.data)
      val df = result()
      df.write.mode("overwrite").parquet(Paths.get(o.out, n).toString)
      val d1 = Digest.of(df)
      val d2 = Digest.of(result())
      require(d1 == d2, s"$n: unstable digest $d1 vs $d2")
      System.err.println(s"[golden] $sf $n $d1")
      (sf, n, d1)
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Main.write(Paths.get(o.out, "oracle_sql.json").toString, Main.json(oracle))
    val keep = Digest.load(Paths.get(o.golden)).filter { case ((s, q), _) =>
      !(s == sf && names.contains(q)) }
      .map { case ((s, q), d) => (s, q, d) }.toSeq
    Main.write(o.golden, Digest.render((keep ++ rows).sortBy(r => (r._1, r._2))))
    spark.stop()
  }
}
