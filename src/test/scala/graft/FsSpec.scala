package graft

/** graft.Fs: the shared filesystem facade's hidden-entry semantics — a
  * directory holding only write markers must read as empty, and leftover
  * `_temporary` trees must not count as data. */
class FsSpec extends SparkSpec {

  test("a dir with only write markers counts as empty data") {
    val root = tmpDir("fs_markers")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_SUCCESS"), "")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_temporary", "0"))
    assert(Fs.exists(spark, root))
    assert(!Fs.existsNonEmptyData(spark, root))
    // one committed file flips it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "part-0.parquet"), "x")
    assert(Fs.existsNonEmptyData(spark, root))
  }

  test("countDataFiles skips hidden subtrees and hidden files") {
    val root = tmpDir("fs_count")
    val tmp = java.nio.file.Paths.get(root, "_temporary", "attempt0")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.writeString(tmp.resolve("part-9.parquet"), "uncommitted")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "part-0.parquet"), "a")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "part-1.parquet"), "b")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, ".hidden.parquet"), "c")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "notes.txt"), "d")
    assert(Fs.countDataFiles(spark, root, ".parquet") == 2)
  }

  test("utf8 control-file round trip and overwrite") {
    val root = tmpDir("fs_utf8")
    val f = s"$root/state._fingerprint"
    assert(Fs.readUtf8(spark, f).isEmpty)
    Fs.writeUtf8(spark, f, "a:1")
    assert(Fs.readUtf8(spark, f).contains("a:1"))
    Fs.writeUtf8(spark, f, "b:2")
    assert(Fs.readUtf8(spark, f).contains("b:2"))
    assert(!new java.io.File(f + ".tmp").exists(), "the write must rename its temp file away")
    // a directory in the file's place reads as no file and is replaced
    val d = s"$root/legacy"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d, "sub"))
    assert(Fs.readUtf8(spark, d).isEmpty)
    Fs.writeUtf8(spark, d, "c:3")
    assert(Fs.readUtf8(spark, d).contains("c:3"))
  }

  test("vacuum removes AGED _temporary trees and AGED orphans; spares fresh, committed, hidden (r11, hardened r12)") {
    val root = tmpDir("fs_vacuum")
    val now = 1_000_000_000L // explicit clock — the determinism contract
    def put(rel: String, body: String, mtime: Long): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
      p
    }
    val keep1 = put("part-0.parquet", "committed-a", now - 999999)
    val keep2 = put("part-1.parquet", "committed-b", now - 999999)
    put("_SUCCESS", "", now - 999999)
    // crashed committer: aged staging tree → deleted
    put("_temporary/0/task_1/part-9.parquet", "staging", now - 120000)
    val agedOrphan = put("part-orphan-old.parquet", "crash-leftover", now - 120000)
    val freshOrphan = put("part-orphan-new.parquet", "in-flight", now - 1000)
    // aged non-data file: NOT the vacuum's business (name-shape guard, r12)
    val readme = put("README.txt", "docs", now - 999999)
    val committed = Set(keep1.toString, keep2.toString)
    val (dirs, files) = Fs.vacuum(spark, root, committed, minAgeMs = 60000, nowMs = now)
    assert(dirs.size == 1 && dirs.head.endsWith("_temporary"))
    assert(files.size == 1 && files.head.endsWith("part-orphan-old.parquet"))
    assert(!java.nio.file.Files.exists(agedOrphan), "aged orphan must be gone")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_temporary")))
    assert(java.nio.file.Files.exists(freshOrphan), "age gate must spare in-flight files")
    assert(java.nio.file.Files.exists(readme), "non-data names are never deleted")
    // committed data byte-identical, markers untouched
    assert(java.nio.file.Files.readString(keep1) == "committed-a")
    assert(java.nio.file.Files.readString(keep2) == "committed-b")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_SUCCESS")))
    // second vacuum after the gate elapses removes the ex-fresh orphan
    val (d2, f2) = Fs.vacuum(spark, root, committed, minAgeMs = 60000, nowMs = now + 120000)
    assert(d2.isEmpty && f2.size == 1 && f2.head.endsWith("part-orphan-new.parquet"))
    // idempotent on a clean store; quiet no-op on a missing dir
    assert(Fs.vacuum(spark, root, committed, 60000, now + 240000) == ((Nil, Nil)))
    assert(Fs.vacuum(spark, s"$root/nope", Set.empty, 0, now) == ((Nil, Nil)))
  }

  test("vacuum age-gates in-flight _temporary trees and recurses into partition subdirs (r12, ADVICE)") {
    val root = tmpDir("fs_vacuum_r12")
    val now = 1_000_000_000L
    def put(rel: String, body: String, mtime: Long): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
      p
    }
    // a RUNNING committer job: staging tree whose newest file is fresh —
    // vacuuming it would destroy the in-flight write (the ADVICE scenario)
    val inflight = put("_temporary/0/task_2/part-3.parquet", "writing", now - 1000)
    // an old skeleton beside a fresh file in the SAME tree must still be
    // spared: the gate reads the NEWEST file, not the oldest
    put("_temporary/0/task_2/part-2.parquet", "earlier", now - 999999)
    // day-partitioned store: committed rows + a crashed writer's orphan
    // INSIDE the partition directory (where dynamic-overwrite debris lands)
    val keepDay = put("day=2024-01-05/part-0.parquet", "committed-day", now - 999999)
    val orphanDay = put("day=2024-01-05/part-orphan.parquet", "crash", now - 120000)
    val committed = Set(keepDay.toString)
    val (dirs, files) = Fs.vacuum(spark, root, committed, minAgeMs = 60000, nowMs = now)
    assert(dirs.isEmpty, "fresh staging tree must be spared")
    assert(java.nio.file.Files.exists(inflight), "in-flight write destroyed")
    assert(files.size == 1 && files.head.endsWith("day=2024-01-05/part-orphan.parquet"),
      s"partition-subdir orphan must be found: $files")
    assert(!java.nio.file.Files.exists(orphanDay))
    assert(java.nio.file.Files.readString(keepDay) == "committed-day")
    // once the job is dead (tree ages past the gate) the tree goes too
    val (d2, _) = Fs.vacuum(spark, root, committed, minAgeMs = 60000, nowMs = now + 120000)
    assert(d2.size == 1 && d2.head.endsWith("_temporary"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_temporary")))
  }
}
