package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}


import graft.sources.Spool

/** [[Spool.commit]], the one way graft makes a file durable: the
  * target is replaced whole, and nothing else is left in its
  * directory. */
class SpoolSpec extends SparkSpec {

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet finally s.close()
  }

  test("commit replaces an existing target") {
    val target = tempDir("graft_commit").resolve("mark.json")
    Files.writeString(target, "old")
    Spool.commit(target, "new".getBytes(StandardCharsets.UTF_8))
    assert(read(target) == "new")
  }

  test("commit leaves no temp file behind") {
    val dir = tempDir("graft_commit")
    (1 to 3).foreach(i => Spool.commit(dir.resolve("a.json"), s"$i".getBytes(StandardCharsets.UTF_8)))
    Spool.commit(dir.resolve("b.json"), Array.emptyByteArray)
    assert(names(dir) == Set("a.json", "b.json"))
  }

  test("two concurrent commits to one target each leave a whole file") {
    val dir = tempDir("graft_commit")
    val target = dir.resolve("_CURRENT")
    val bodies = Seq("a", "b").map(_ * (256 << 10))
    val start = new java.util.concurrent.CountDownLatch(1)
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = bodies.map { body =>
      val t = new Thread(() => {
        try {
          start.await()
          (1 to 50).foreach { _ =>
            Spool.commit(target, body.getBytes(StandardCharsets.UTF_8))
            if (!bodies.contains(read(target))) torn.incrementAndGet()
          }
        } catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    writers.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    assert(torn.get == 0, "a reader saw a partial or mixed file")
    assert(bodies.contains(read(target)))
    assert(names(dir) == Set("_CURRENT"))
  }
}
