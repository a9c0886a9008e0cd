package logbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Seeded generator of Hadoop-grammar log corpora (FIXTURES.md §1-2) with
  * ground truth.
  *
  * The template vocabulary is fixed (built from [[VocabSeed]]), so every
  * seed mines the same number of templates; the seed drives everything
  * else: which templates are frequent (Zipf over a seeded rank order),
  * variable values, line order and file layout. Every template is unique in
  * (token count, first two cleaned tokens), and its variable tokens all carry
  * digits, which Drain masks before routing, so a faithful miner recovers
  * exactly [[trueTemplates]] clusters.
  */
object Corpus {
  val VocabSeed = 870L
  /** Ordinary timestamped templates; the reference mined 707-1,140 clusters. */
  val NumTemplates = 800
  val ZipfExponent = 1.1
  /** Share of continuation lines: 72 of 1,282 in the reference sample. */
  val ContinuationShare = 72.0 / 1282
  /** Share of FATAL lines (the rare target event). */
  val FatalShare = 0.0008

  final case class Template(level: String, thread: String, logger: String,
                            words: Array[String], varSlots: Set[Int])

  private val packages = Seq(
    "org.apache.hadoop.mapreduce.v2.app", "org.apache.hadoop.mapreduce.v2.app.rm",
    "org.apache.hadoop.mapreduce.v2.app.job.impl", "org.apache.hadoop.mapred",
    "org.apache.hadoop.yarn.client.api.impl", "org.apache.hadoop.ipc",
    "org.apache.hadoop.hdfs", "org.apache.hadoop.mapreduce.task.reduce",
    "org.apache.hadoop.yarn.event", "org.apache.hadoop.metrics2.impl")
  private val classes = Seq(
    "MRAppMaster", "RMContainerAllocator", "TaskAttemptImpl", "JobImpl", "Task",
    "MapTask", "ReduceTask", "YarnChild", "ContainerManagementProtocolProxy",
    "Client", "DFSClient", "Fetcher", "MergeManagerImpl", "AsyncDispatcher",
    "MetricsSystemImpl", "TaskAttemptListenerImpl", "CommitterEventHandler",
    "LocalContainerLauncher", "ShuffleSchedulerImpl", "LeaseRenewer")
  // no level words (INFO/WARN/ERROR/DEBUG/TRACE): the cleaner strips them anywhere
  private val words = Seq(
    "added", "assigned", "attempt", "block", "buffer", "cleanup", "commit",
    "completed", "connecting", "container", "copied", "created", "default",
    "dispatcher", "done", "event", "failed", "fetcher", "file", "finished",
    "from", "handler", "host", "initialized", "input", "job", "killed",
    "launched", "leaving", "local", "map", "memory", "merge", "merged",
    "node", "output", "path", "progress", "queue", "read", "ready", "received",
    "reduce", "registered", "released", "remote", "request", "resource",
    "retrying", "running", "scheduled", "segment", "sending", "server",
    "shuffle", "size", "skipped", "spill", "started", "state", "status",
    "stopped", "succeeded", "task", "thread", "token", "transition", "update",
    "user", "using", "waiting", "with", "wrote", "zero", "allocated",
    "preempted", "reserved", "heartbeat", "committer", "directory", "scheme",
    "metrics", "snapshot", "period", "source", "sink", "closing", "opened")
  // single-word threads only: the cleaner strips `[\w+]`, so the cleaned
  // line starts with the logger and the uniqueness key below is the routing key
  private val threads = Seq("[LocalJobRunner]", "[communication]",
    "[SpillThread]", "[EventFetcher]", "[LeaseRenewer]")

  /** The fixed vocabulary: [[NumTemplates]] ordinary templates, unique in
    * (length, logger, first word). */
  lazy val vocabulary: IndexedSeq[Template] = {
    val r = new scala.util.Random(VocabSeed)
    val seen = mutable.HashSet.empty[(Int, String, String)]
    val out = mutable.ArrayBuffer.empty[Template]
    while (out.size < NumTemplates) {
      val logger = packages(r.nextInt(packages.size)) + "." + classes(r.nextInt(classes.size))
      val len = 3 + r.nextInt(10)
      val ws = Array.fill(len)(words(r.nextInt(words.size)))
      val thread = if (r.nextDouble() < 0.7) "[main]" else threads(r.nextInt(threads.size))
      if (seen.add((len, logger, ws(0)))) {
        // variables never in the first word, so the routing prefix stays
        // constant, and at most a third of the cleaned tokens, so every line
        // stays above Drain's 0.4 similarity to its template
        val slots = r.shuffle((1 until len).toList).take(r.nextInt((len + 1) / 3 + 1)).toSet
        val lv = r.nextDouble()
        val level = if (lv < 0.85) "INFO" else if (lv < 0.95) "WARN" else "ERROR"
        out += Template(level, thread, logger, ws, slots)
      }
    }
    out.toIndexedSeq
  }

  /** FATAL target templates: their cleaned lines start with `FATAL`. */
  val fatalTemplates: IndexedSeq[Template] = IndexedSeq(
    Template("FATAL", "[main]", "org.apache.hadoop.mapred.YarnChild",
      "Error running child : java.lang.OutOfMemoryError Java heap space".split(" "), Set.empty),
    Template("FATAL", "[IPC Server handler 5 on 62270]", "org.apache.hadoop.mapred.TaskAttemptListenerImpl",
      "Task attempt_x exited : org.apache.hadoop.fs.FSError java.io.IOException No space left on device".split(" "), Set(1)))

  /** Continuation lines (no timestamp), one cluster each after masking. */
  private val continuationKinds = IndexedSeq(
    (r: scala.util.Random) => "\tat org.apache.hadoop." + classes(r.nextInt(classes.size)) +
      ".run(" + classes(r.nextInt(classes.size)) + ".java:" + (100 + r.nextInt(900)) + ")",
    (_: scala.util.Random) => "java.net.ConnectException: Connection refused",
    (_: scala.util.Random) => "Caused by: java.nio.channels.ClosedByInterruptException",
    (r: scala.util.Random) => "Container killed on request. Exit code is " + (130 + r.nextInt(10)),
    (_: scala.util.Random) => "")

  /** Distinct clusters a faithful miner finds in a full corpus. */
  val trueTemplates: Int = NumTemplates + fatalTemplates.size + continuationKinds.size

  private def variable(r: scala.util.Random, slot: Int): String = (slot + r.nextInt(7)) % 7 match {
    case 0 => f"attempt_1445${r.nextInt(100000)}%05d_${r.nextInt(100)}%04d_m_${r.nextInt(1000)}%06d_0"
    case 1 => f"container_1445${r.nextInt(100000)}%05d_${r.nextInt(100)}%04d_01_${r.nextInt(1000)}%06d"
    case 2 => s"10.190.${r.nextInt(256)}.${r.nextInt(256)}:${40000 + r.nextInt(20000)}"
    case 3 => (r.nextInt(1 << 20) + 1).toString
    case 4 => s"${r.nextInt(1000)}ms"
    case 5 => s"hdfs://msra-sa-41:9000/tmp/hadoop-yarn/staging/job_${r.nextInt(100000)}"
    case _ => s"blk_${1073741824 + r.nextInt(100000)}"
  }

  private def render(t: Template, r: scala.util.Random, ts: String): String = {
    val sb = new StringBuilder(160)
    sb.append(ts).append(' ').append(t.level).append(' ').append(t.thread).append(' ')
      .append(t.logger).append(':')
    var i = 0
    while (i < t.words.length) {
      sb.append(' ')
      sb.append(if (t.varSlots(i)) variable(r, i) else t.words(i))
      i += 1
    }
    sb.toString
  }

  private def timestamp(ms: Long): String = {
    val s = ms / 1000
    f"2015-10-17 ${(s / 3600) % 24}%02d:${(s / 60) % 60}%02d:${s % 60}%02d,${ms % 1000}%03d"
  }

  /** What one generated corpus must produce. Windows count 5-line tumbling
    * windows over the global (file path, line) order. */
  final case class Truth(lines: Long, fatalLines: Long, continuationLines: Long,
                         files: Int, decoys: Int, positiveWindows: Long, windows: Long)

  /** Write a corpus of about `lines` lines under `dir`: nested application
    * directories of `container_*.log` files plus decoy files the scan must
    * ignore. Returns the ground truth for 5-line tumbling windows. */
  def write(dir: File, seed: Long, lines: Int, files: Int, windowSize: Int = 5): Truth = {
    val r = new scala.util.Random(seed)
    // Zipf weights over a seeded rank order; every template appears at least once
    val rank = r.shuffle(vocabulary.indices.toVector)
    val w = rank.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
    val wsum = w.sum
    val fatal = math.max(fatalTemplates.size, math.round(lines * FatalShare).toInt)
    val cont = math.round(lines * ContinuationShare).toInt
    val ordinary = lines - fatal - cont
    val counts = Array.tabulate(NumTemplates)(i => math.max(1, math.floor(ordinary * w(i) / wsum).toInt))
    var short = ordinary - counts.sum
    var k = 0
    while (short > 0) { counts(k % NumTemplates) += 1; short -= 1; k += 1 }
    // one code per line: >= 0 ordinary rank, -1..-F fatal, -100-k continuation kind
    val codes = new Array[Int](lines)
    var p = 0
    for (i <- 0 until NumTemplates; _ <- 0 until counts(i)) { codes(p) = i; p += 1 }
    for (j <- 0 until fatal) { codes(p) = -1 - (j % fatalTemplates.size); p += 1 }
    for (j <- 0 until cont) { codes(p) = -100 - (j % continuationKinds.size); p += 1 }
    require(p == lines, s"generated $p of $lines lines")
    // seeded shuffle (Fisher-Yates)
    var i = lines - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = codes(i); codes(i) = codes(j); codes(j) = t; i -= 1 }
    // a continuation line may not open a file: swap in the next timestamped one
    val per = (lines + files - 1) / files
    (0 until lines by per).foreach { from =>
      var j = from
      while (codes(j) <= -100) j += 1
      val t = codes(from); codes(from) = codes(j); codes(j) = t
    }

    dir.mkdirs()
    val paths = (0 until files).map { f =>
      val app = new File(dir, f"application_1445062781478_${f % 3}%04d/node_${f % 2}")
      app.mkdirs()
      new File(app, f"container_1445062781478_${f % 3}%04d_01_$f%06d.log")
    }
    // decoys: a glob-mismatching container name and two non-container files
    val decoys = Seq(new File(dir, "application_1445062781478_0000/syslog.txt"),
      new File(dir, "application_1445062781478_0001/node_1/container_1445062781478_0001_01_000099.log.gz"),
      new File(dir, "application_1445062781478_0002/stderr"))
    decoys.foreach { d =>
      d.getParentFile.mkdirs()
      val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(d), StandardCharsets.UTF_8))
      try (0 until 50).foreach(n => out.write(s"2015-10-17 15:37:56,547 INFO [main] decoy.Line: must not be scanned $n\n"))
      finally out.close()
    }
    // global order = sorted path order, then line order; FATAL windows follow it
    val order = paths.indices.sortBy(f => paths(f).getAbsolutePath)
    val fatalWindows = mutable.HashSet.empty[Long]
    var global = 0L
    order.foreach { f =>
      val from = f * per
      val until = math.min(lines, from + per)
      val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(paths(f)), StandardCharsets.UTF_8), 1 << 16)
      try {
        var ms = 56547L + f * 1000L
        var n = from
        while (n < until) {
          val c = codes(n)
          ms += r.nextInt(40)
          val line =
            if (c >= 0) render(vocabulary(rank(c)), r, timestamp(ms))
            else if (c > -100) { fatalWindows += global / windowSize; render(fatalTemplates(-1 - c), r, timestamp(ms)) }
            else continuationKinds(-100 - c)(r)
          out.write(line); out.write('\n')
          global += 1; n += 1
        }
      } finally out.close()
    }
    Truth(lines, fatal, cont, files, decoys.size, fatalWindows.size.toLong,
      (lines.toLong + windowSize - 1) / windowSize)
  }

  /** The `container_*.log` files under `dir`, in path order. */
  def containerFiles(dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(dir).filter(f => f.getName.startsWith("container_") && f.getName.endsWith(".log"))
      .sortBy(_.getAbsolutePath)
  }

  /** One batch of the incremental stream: `lines` lines drawn Zipf-style from
    * the first `known` ranks plus a few from later ranks, so each batch
    * carries some templates the state has not seen yet. */
  def writeBatch(file: File, seed: Long, batch: Int, lines: Int): Long = {
    val r = new scala.util.Random(seed * 1000003L + batch)
    val rank = new scala.util.Random(seed).shuffle(vocabulary.indices.toVector)
    val reach = math.min(NumTemplates, 200 + 20 * batch)
    val cum = (0 until reach).map(i => 1.0 / math.pow(i + 1, ZipfExponent)).scanLeft(0.0)(_ + _).tail.toArray
    file.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      var ms = 1000L * batch
      (0 until lines).foreach { _ =>
        val u = r.nextDouble() * cum.last
        var k = java.util.Arrays.binarySearch(cum, u)
        if (k < 0) k = -k - 1
        ms += r.nextInt(40)
        out.write(render(vocabulary(rank(math.min(k, reach - 1))), r, timestamp(ms)))
        out.write('\n')
      }
    } finally out.close()
    lines.toLong
  }
}
