package graft

import java.io.File

/** Guards the one persisted-index lifecycle: the spec-first bootstrap,
  * the crash-ordered compaction swap, the batch_id store partitions and
  * the store reads are implemented once, in `graft/sources/
  * PersistedIndex.scala`, and every index family reaches them through
  * its descriptor.
  */
class PersistedIndexSpec extends SparkSpec {

  private def mainSources: Seq[File] = {
    def files(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    files(new File("src/main/scala"))
  }

  test("index lifecycle steps live only in sources/PersistedIndex") {
    val sources = mainSources
    sources.size should be > 40 // the scan must see the tree
    // a lifecycle step re-grown outside the module, under any name:
    // the swap, the store-partition listing/GC helpers and the
    // `batch_id=` directory idiom they parse, the per-batch store write,
    // and the missing-store bootstrap of a store read
    val banned = Seq("swapIndexTable(", "storeBatchIds",
      "deleteFoldedPartitions", "\"batch_id=", ".partitionBy(\"batch_id\")",
      "\"PATH_NOT_FOUND\"")
    // the index families' own files may not write a spec table
    // themselves either — except for the two families outside this
    // lifecycle: the bloom tier (a one-row filter with no row identity)
    // and the append-only LSH snapshot
    val familyFiles = Set("Dedup.scala", "Similarity.scala", "Streams.scala")
    val specWriters = Set("buildBloomIndex", "ensureBloomIndex",
      "buildLshIndex")
    val defLine = """^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored
    val offenders = for {
      f <- sources
      path = f.getPath.replace(File.separatorChar, '/')
      if !path.endsWith("/graft/sources/PersistedIndex.scala")
      lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      (line, n) <- lines.zipWithIndex
      hit <- banned.filter(line.contains) ++ (
        if (familyFiles(f.getName) && line.contains("IndexSpec.write(")) {
          val owner = lines.take(n + 1).reverseIterator
            .collectFirst { case defLine(name) => name }
          if (owner.exists(specWriters)) Nil
          else Seq(s"IndexSpec.write( in ${owner.getOrElse("?")}")
        } else Nil)
    } yield s"$path:${n + 1}: $hit"
    offenders shouldBe empty
  }
}
