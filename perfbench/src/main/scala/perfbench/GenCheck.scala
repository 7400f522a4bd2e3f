package perfbench

import java.nio.file.{Files, Path, Paths}

/** Self-test of the input generators: writes every input family for a
  * seed under a directory and hashes the bytes. The same seed must give
  * byte-identical inputs, a different seed different ones. */
object GenCheck {
  private def write(dir: Path, seed: Long): Map[String, String] = {
    val d = Files.createDirectories(dir)
    def put(name: String, body: String): (String, String) = {
      val p = d.resolve(name)
      Files.write(p, body.getBytes("UTF-8"))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      name -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }
    val tweets = (0 until 30).map(k => Gen.Tweets.file(seed, k, k * 100L, 100)).mkString +
      Gen.Tweets.file(seed, 30, 3000L, 2000)
    val lake = (0 until 20).flatMap(op => Gen.Lake.append(seed, op, op * 400L, 400)) ++
      (20 until 25).flatMap(op => Gen.Lake.upsert(seed, op, 8000L, 150, 50))
    val (docs, embs) = Gen.Docs.corpus(seed, 500)
    val batches = (0 until 3).map(op => Gen.Docs.batch(seed, op, 100, 5, 10, docs, embs))
    def vec(v: Array[Float]) = v.mkString(",")
    Map(
      put("tweets.jsonl", tweets),
      put("lake.tsv", lake.map(r => s"${r.id}\t${r.grp}\t${r.v}\t${r.payload}").mkString("\n")),
      put("docs.tsv", (docs.map { case (i, t) => s"$i\t$t" } ++
        batches.flatMap(_.docs.map { case (i, t) => s"$i\t$t" })).mkString("\n")),
      put("embeddings.tsv", (embs ++ batches.flatMap(_.embs)).map { case (i, v) => s"$i\t${vec(v)}" }.mkString("\n")),
      put("planted.tsv", batches.flatMap(b => b.plantedText ++ b.plantedEmb).mkString("\n")))
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    val a = write(root.resolve("seed1_a"), 1)
    val b = write(root.resolve("seed1_b"), 1)
    val c = write(root.resolve("seed2"), 2)
    val same = a == b
    val differ = a.keys.forall(k => a(k) != c(k))
    a.keys.toSeq.sorted.foreach(k => println(s"[selftest] $k seed1=${a(k).take(12)} seed1'=${b(k).take(12)} seed2=${c(k).take(12)}"))
    println(s"[selftest] same seed gives identical bytes: $same; other seed differs in every family: $differ")
    Dirs.delete(root)
    sys.exit(if (same && differ) 0 else 1)
  }
}
