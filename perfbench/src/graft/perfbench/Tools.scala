package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Maintenance entry points of the benchmark (not timed):
  *
  *  - `registry` prints the registered query names;
  *  - `check-partition <bench>` exits non-zero when a registered query is
  *    in neither drain list or in both;
  *  - `partition <data> <work>` applies the partition rule to every
  *    registered query and prints `<query> <workload>` lines;
  *  - `reference <verifyOut> <file>` writes the digest of every output
  *    dumped by `graft.Verify` under `verifyOut`;
  *  - `warmup <data> <work>` starts a session and drains one query, so
  *    that the build can record the classes a run loads. */
object Tools {
  def main(argv: Array[String]): Unit = argv.toList match {
    case "registry" :: Nil =>
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)

    case "check-partition" :: bench :: Nil =>
      val problems = Partition.problems(Partition.load(bench), graft.SparkEntry.queries.keySet)
      problems.foreach(println)
      println(s"${problems.size} partition problems over ${graft.SparkEntry.queries.size} queries")
      if (problems.nonEmpty) sys.exit(1)

    case "partition" :: data :: work :: Nil =>
      val spark = Main.session(work)
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
        val line =
          try {
            val df = fn(spark, data)
            s"$q ${Partition.classify(df, data)} kernels=${Plans.kernels(df).toSeq.sorted.mkString(",")} " +
              s"leaves=${Plans.leaves(df, data).size}"
          } catch { case NonFatal(e) => s"$q ERROR $e" }
        println(line)
      }
      spark.stop()

    case "reference" :: verifyOut :: file :: Nil =>
      val spark = Main.session(Paths.get(file).getParent.toString)
      val names = Files.list(Paths.get(verifyOut)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
        .map(_.getFileName.toString).sorted
      val lines = names.map { q =>
        val (rows, sum) = Checksum.of(spark.read.parquet(s"$verifyOut/$q"))
        s"$q\t$rows\t$sum"
      }
      Files.write(Paths.get(file), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"wrote ${lines.length} digests to $file")
      spark.stop()

    case "warmup" :: data :: work :: Nil =>
      val spark = Main.session(work)
      graft.SparkEntry.queries("q_limit")(spark, data).write.format("noop").mode("overwrite").save()
      spark.stop()

    case _ =>
      System.err.println("usage: Tools registry | check-partition <bench> | " +
        "partition <data> <work> | reference <verifyOut> <file> | warmup <data> <work>")
      sys.exit(2)
  }
}
