package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The session [[Resolver]] serves one frame per committed generation
  * and retires it on ANY change to the dir's files — including writes
  * that never tell it (a direct `df.write.parquet`, a bucket-subdir swap,
  * a healed torn swap). */
class ResolverSpec extends SparkSpec {
  import SparkSpec.session.implicits._

  private def ids(df: DataFrame): Set[Long] =
    df.select($"id").as[Long].collect().toSet

  test("(a) an unchanged dir is served the same frame with zero Spark jobs") {
    val dir = s"${tmpDir("resolver")}/t"
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    val first = Resolver(spark).read(dir)
    val (second, jobs) = jobsDuring(Resolver(spark).read(dir))
    assert(second eq first)
    assert(jobs == 0, s"a memoized read launched $jobs job(s)")
  }

  test("(b) a direct overwrite onto a read dir is detected, not served stale") {
    val dir = s"${tmpDir("resolver")}/t"
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    assert(ids(Resolver(spark).read(dir)) == Set(1L, 2L))
    // no invalidate call of any kind: the listing itself changed
    Seq(7L, 8L, 9L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(ids(Resolver(spark).read(dir)) == Set(7L, 8L, 9L))
  }

  test("(c) a bucket-subdir swap retires the parent model dir's frame") {
    val dir = s"${tmpDir("resolver")}/m"
    val b = Materialization.MergeUpsert.BucketCol
    Seq((1L, 0), (2L, 1)).toDF("id", b).write.partitionBy(b).parquet(dir)
    val before = Resolver(spark).read(dir)
    assert(ids(before) == Set(1L, 2L))
    val tmp = s"$dir.merge/$b=1"
    Seq(3L, 4L).toDF("id").write.parquet(tmp)
    DirSwap.replace(tmp, s"$dir/$b=1")
    val after = Resolver(spark).read(dir)
    assert(!(after eq before))
    assert(ids(after) == Set(1L, 3L, 4L))
  }

  test("(d) a rewrite with a new column is re-inferred with the new schema") {
    val dir = s"${tmpDir("resolver")}/t"
    Seq(1L).toDF("id").write.parquet(dir)
    assert(Resolver(spark).read(dir).columns.toSeq == Seq("id"))
    Seq((2L, "x")).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    val df = Resolver(spark).read(dir)
    assert(df.columns.toSeq == Seq("id", "tag"))
    assert(df.as[(Long, String)].collect().toSeq == Seq((2L, "x")))
  }

  test("(e) a torn swap healed by DirSwap.recover serves the restored generation") {
    val root = tmpDir("resolver")
    val dir = s"$root/t"
    Seq(1L).toDF("id").write.parquet(dir)
    assert(ids(Resolver(spark).read(dir)) == Set(1L))
    Seq(2L).toDF("id").write.parquet(s"$root/gen2")
    DirSwap.replace(s"$root/gen2", dir)
    assert(ids(Resolver(spark).read(dir)) == Set(2L))
    // a crash between rename-aside and rename-into-place: the live
    // generation sits at .old, a third one is staged but uncommitted
    Seq(3L).toDF("id").write.parquet(s"$root/gen3")
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir.old")))
    // the missing dir is never answered from the memo
    intercept[org.apache.spark.sql.AnalysisException](Resolver(spark).read(dir))
    assert(DirSwap.recover(dir))
    assert(ids(Resolver(spark).read(dir)) == Set(2L))
  }

  test("(f) a collected centroid artifact lives exactly as long as its generation") {
    import graft.similarity.CentroidAssign.collectCentroids
    val dir = s"${tmpDir("resolver")}/ivf_centroids"
    def write(c: Long): Unit =
      Seq((0, Seq(c, 0L), c * c), (1, Seq(0L, c), c * c)).toDF("label", "c", "ncsq")
        .write.mode("overwrite").parquet(dir)
    write(3L)
    val a1 = collectCentroids(Resolver(spark).read(dir))
    val (a1again, jobs) = jobsDuring(collectCentroids(Resolver(spark).read(dir)))
    assert(a1again eq a1)
    assert(jobs == 0)
    write(5L)
    val a2 = collectCentroids(Resolver(spark).read(dir))
    assert(!(a2 eq a1))
    assert(a2.map(_._3).toSeq == Seq(25L, 25L))
    assert(a2.map(_._2.toSeq).toSeq == Seq(Seq(5L, 0L), Seq(0L, 5L)))
  }
}
