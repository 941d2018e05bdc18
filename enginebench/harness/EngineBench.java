import java.io.IOException;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.time.Instant;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.TreeSet;
import java.util.concurrent.atomic.AtomicLong;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.logging.log4j.Level;
import org.apache.logging.log4j.LogManager;
import org.apache.logging.log4j.core.LogEvent;
import org.apache.logging.log4j.core.LoggerContext;
import org.apache.logging.log4j.core.appender.AbstractAppender;
import org.apache.logging.log4j.core.config.Property;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Observation;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import org.apache.spark.sql.execution.exchange.Exchange;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.util.QueryExecutionListener;

import scala.Function2;

/**
 * In-process half of the engine benchmark. Drives one workload's ids from
 * {@code graft.SparkEntry.queries} on a single driver thread, materializing
 * every query with a noop write, and writes one JSON result file.
 *
 * <p>Arguments are {@code key=value} pairs:
 * <ul>
 *   <li>{@code data}: input table directory; {@code tables}: comma list of
 *       the tables the workload opens at setup</li>
 *   <li>{@code ids}: comma list of the query ids to run</li>
 *   <li>{@code cpus}; {@code passes}: the number of timed warm passes</li>
 *   <li>{@code trace}: 1 interleaves traced and untraced warm passes and
 *       records spans, listener counts and catalyst phases</li>
 *   <li>{@code dump}: directory for the parquet dump of oracle-checked ids
 *       plus {@code oracle_sql.json}, written by the untimed pass that
 *       follows the cold one</li>
 *   <li>{@code scratch}: Spark's local and warehouse directory</li>
 *   <li>{@code out}: result JSON path; {@code spans}: span JSON path of a
 *       traced run</li>
 * </ul>
 */
public final class EngineBench {
  private static final String REPLACED = "replaced a previously registered function";

  private static long epochNanos() {
    Instant now = Instant.now();
    return now.getEpochSecond() * 1_000_000_000L + now.getNano();
  }

  // ---------------------------------------------------------------- probes

  /** Fixed single-thread integer loop that touches neither graft nor Spark.
   *  Its wall time labels the host's speed at the moment it runs. */
  static double calibMs() {
    long t = System.nanoTime();
    long x = 0x9E3779B97F4A7C15L;
    for (int i = 0; i < 40_000_000; i++) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17;
    }
    double ms = (System.nanoTime() - t) / 1e6;
    if (x == 42) System.err.println("unlikely");
    return ms;
  }

  /** Host-wide steal seconds so far, from the aggregate cpu line of /proc/stat. */
  static double stealSeconds() {
    try {
      for (String line : Files.readAllLines(Paths.get("/proc/stat"))) {
        if (line.startsWith("cpu ")) {
          String[] f = line.trim().split("\\s+");
          return f.length > 8 ? Long.parseLong(f[8]) / 100.0 : 0.0;
        }
      }
    } catch (IOException | RuntimeException e) {
      return 0.0;
    }
    return 0.0;
  }

  static double vmHwmMb() {
    try {
      for (String line : Files.readAllLines(Paths.get("/proc/self/status"))) {
        if (line.startsWith("VmHWM:")) {
          return Long.parseLong(line.replaceAll("[^0-9]", "")) / 1024.0;
        }
      }
    } catch (IOException | RuntimeException e) {
      return 0.0;
    }
    return 0.0;
  }

  static double processCpuSeconds() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime() / 1e9;
  }

  static long[] gcTotals() {
    long ms = 0, n = 0;
    for (GarbageCollectorMXBean b : ManagementFactory.getGarbageCollectorMXBeans()) {
      ms += Math.max(0, b.getCollectionTime());
      n += Math.max(0, b.getCollectionCount());
    }
    return new long[] {ms, n};
  }

  /** Hiccup meter: sleeps 1 ms at a time and books any overshoot beyond
   *  1 ms as a pause, so box stalls show apart from the program's own time. */
  static final class PauseMeter extends Thread {
    final AtomicLong pauseNanos = new AtomicLong();
    final AtomicLong maxNanos = new AtomicLong();
    volatile boolean running = true;

    PauseMeter() {
      super("enginebench-pause-meter");
      setDaemon(true);
    }

    @Override public void run() {
      while (running) {
        long t = System.nanoTime();
        try {
          Thread.sleep(1);
        } catch (InterruptedException e) {
          return;
        }
        long over = System.nanoTime() - t - 1_000_000L;
        if (over > 1_000_000L) {
          pauseNanos.addAndGet(over);
          maxNanos.accumulateAndGet(over, Math::max);
        }
      }
    }

    long[] takeAndReset() {
      return new long[] {pauseNanos.getAndSet(0), maxNanos.getAndSet(0)};
    }
  }

  // --------------------------------------------------------------- tracing

  /** Counters that the listeners add to; read after the listener bus drains. */
  static final class Counters {
    long jobs, stages, tasks, failedTasks;
    long taskNanos, taskCpuNanos;
    long shuffleWrite, shuffleRead, spill, input;
    double analysisS, optimizationS, planningS;
    long planNodes, exchanges;
  }

  /** Spark job as seen by the listener: its group (the query id) and times. */
  static final class JobRec {
    final String group;
    final long start;
    long end;

    JobRec(String group, long start) {
      this.group = group; this.start = start; this.end = start;
    }
  }

  static final class Tracer extends SparkListener implements QueryExecutionListener {
    Counters c = new Counters();
    final Map<Integer, JobRec> jobs = new HashMap<>();
    final List<long[]> phases = new ArrayList<>();  // {startMs, endMs, kind}
    volatile boolean on = false;

    @Override public synchronized void onJobStart(SparkListenerJobStart e) {
      if (!on) return;
      c.jobs++;
      String g = e.properties() == null ? null : e.properties().getProperty("spark.jobGroup.id");
      jobs.put(e.jobId(), new JobRec(g, e.time() * 1_000_000L));
    }

    @Override public synchronized void onJobEnd(SparkListenerJobEnd e) {
      JobRec r = jobs.get(e.jobId());
      if (r != null) r.end = e.time() * 1_000_000L;
    }

    @Override public synchronized void onStageCompleted(SparkListenerStageCompleted e) {
      if (on) c.stages++;
    }

    @Override public synchronized void onTaskEnd(SparkListenerTaskEnd e) {
      if (!on) return;
      c.tasks++;
      if (e.taskInfo() != null && e.taskInfo().failed()) c.failedTasks++;
      TaskMetrics m = e.taskMetrics();
      if (m == null) return;
      c.taskNanos += m.executorRunTime() * 1_000_000L;
      c.taskCpuNanos += m.executorCpuTime();
      c.shuffleWrite += m.shuffleWriteMetrics().bytesWritten();
      c.shuffleRead += m.shuffleReadMetrics().totalBytesRead();
      c.spill += m.memoryBytesSpilled() + m.diskBytesSpilled();
      c.input += m.inputMetrics().bytesRead();
    }

    /** Only the final noop write of each id counts toward catalyst numbers. */
    @Override public synchronized void onSuccess(String funcName, QueryExecution qe, long durationNs) {
      if (!on || !isNoopWrite(qe)) return;
      QueryPlanningTracker t = qe.tracker();
      scala.collection.Iterator<scala.Tuple2<String, QueryPlanningTracker.PhaseSummary>> it =
          t.phases().iterator();
      while (it.hasNext()) {
        scala.Tuple2<String, QueryPlanningTracker.PhaseSummary> p = it.next();
        double s = p._2().durationMs() / 1000.0;
        long kind;
        switch (p._1()) {
          case "analysis": c.analysisS += s; kind = 0; break;
          case "optimization": c.optimizationS += s; kind = 1; break;
          case "planning": c.planningS += s; kind = 2; break;
          default: continue;
        }
        phases.add(new long[] {p._2().startTimeMs(), p._2().endTimeMs(), kind});
      }
      countPlan(qe.executedPlan());
    }

    @Override public void onFailure(String funcName, QueryExecution qe, Exception exception) { }

    private static boolean isNoopWrite(QueryExecution qe) {
      return qe.analyzed() instanceof OverwriteByExpression
          && ((OverwriteByExpression) qe.analyzed()).table().name().equals("noop-table");
    }

    private void countPlan(SparkPlan p) {
      if (p instanceof AdaptiveSparkPlanExec) {
        countPlan(((AdaptiveSparkPlanExec) p).executedPlan());
        return;
      }
      if (p instanceof QueryStageExec) {
        countPlan(((QueryStageExec) p).plan());
        return;
      }
      c.planNodes++;
      if (p instanceof Exchange) c.exchanges++;
      scala.collection.Iterator<SparkPlan> it = p.children().iterator();
      while (it.hasNext()) countPlan(it.next());
    }
  }

  static final class ReregistrationCounter extends AbstractAppender {
    final AtomicLong count = new AtomicLong();

    ReregistrationCounter() {
      super("enginebench-reregistrations", null, null, true, Property.EMPTY_ARRAY);
    }

    @Override public void append(LogEvent event) {
      if (event.getMessage() != null
          && event.getMessage().getFormattedMessage().contains(REPLACED)) {
        count.incrementAndGet();
      }
    }
  }

  // -------------------------------------------------------------- the run

  static final ObjectMapper JSON = new ObjectMapper();

  final Map<String, String> conf;
  SparkSession spark;
  List<String> ids;
  final Map<String, Function2<SparkSession, String, Dataset<Row>>> queries = new LinkedHashMap<>();
  scala.collection.immutable.Map<String, String> oracle;
  final TreeSet<String> selfVerified = new TreeSet<>();
  final List<Map<String, Object>> spans = new ArrayList<>();
  Tracer tracer;
  ReregistrationCounter reregs;
  final PauseMeter pauses = new PauseMeter();

  EngineBench(Map<String, String> conf) {
    this.conf = conf;
  }

  String arg(String k) {
    String v = conf.get(k);
    if (v == null) throw new IllegalArgumentException("missing argument " + k);
    return v;
  }

  void openSession() {
    String cpus = arg("cpus");
    String scratch = arg("scratch");
    spark = SparkSession.builder()
        .master("local[" + cpus + "]")
        .appName("enginebench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", scratch + "/spark-local")
        .config("spark.sql.warehouse.dir", scratch + "/warehouse")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    String data = arg("data");
    for (String t : arg("tables").split(",")) {
      if (t.equals("events")) {
        graft.util.Canon.events(spark, data).schema();
      } else {
        spark.read().parquet(data + "/" + t + ".parquet").schema();
      }
    }
  }

  void loadIds() {
    ids = new ArrayList<>(new TreeSet<>(Arrays.asList(arg("ids").split(","))));
    scala.collection.immutable.Map<String, Function2<SparkSession, String, Dataset<Row>>> all =
        graft.SparkEntry.queries();
    oracle = graft.SparkEntry.oracleSql();
    for (String id : ids) {
      if (!all.contains(id)) throw new IllegalArgumentException("unknown query id " + id);
      queries.put(id, all.apply(id));
      if (!oracle.contains(id)) selfVerified.add(id);
    }
  }

  /** Order-independent digest of a self-verified id's output, computed by
   *  the same noop execution through an observation. */
  static Dataset<Row> observeDigest(Dataset<Row> df, Observation obs) {
    Column row = functions.to_json(functions.struct(functions.col("*")));
    return df.observe(obs,
        functions.sum(functions.pmod(functions.xxhash64(row), functions.lit(1_000_000_007L)))
            .as("h"),
        functions.count(functions.lit(1)).as("n"));
  }

  /** One pass over every id; returns the pass record. With a {@code dumpDir},
   *  oracle-checked ids are written there as parquet, one file per id as
   *  Verify writes them (check.py compares rows in order), instead of to the
   *  noop sink. */
  Map<String, Object> runPass(int pass, boolean traced, String dumpDir) {
    if (traced) {
      drainListenerBus();
      synchronized (tracer) {
        tracer.c = new Counters();
        tracer.jobs.clear();
        tracer.phases.clear();
      }
      reregs.count.set(0);
      tracer.on = true;
    }
    pauses.takeAndReset();
    long[] gc0 = gcTotals();
    double cpu0 = processCpuSeconds();
    double steal0 = stealSeconds();
    Map<String, Double> perId = new LinkedHashMap<>();
    Map<String, String> digests = new LinkedHashMap<>();
    List<String> failed = new ArrayList<>();
    double buildS = 0, actionS = 0;
    long buildJobs = 0;
    String data = arg("data");
    long t0 = System.nanoTime();
    for (String id : ids) {
      spark.sparkContext().setJobGroup(id, id, false);
      long qStart = epochNanos();
      long a = System.nanoTime();
      try {
        Dataset<Row> df = queries.get(id).apply(spark, data);
        long b = System.nanoTime();
        Observation obs = null;
        if (selfVerified.contains(id)) {
          obs = new Observation("enginebench_digest");
          df = observeDigest(df, obs);
        }
        if (dumpDir != null && obs == null) {
          df.coalesce(1).write().mode("overwrite").parquet(dumpDir + "/" + id);
        } else {
          df.write().format("noop").mode("overwrite").save();
        }
        long e = System.nanoTime();
        if (obs != null) {
          scala.collection.immutable.Map<String, Object> m = obs.get();
          digests.put(id, m.apply("h") + "/" + m.apply("n"));
        }
        buildS += (b - a) / 1e9;
        actionS += (e - b) / 1e9;
        perId.put(id, (e - a) / 1e9);
        if (traced) {
          int qid = spans.size();
          long bEnd = qStart + (b - a);
          long aEnd = qStart + (e - a);
          spans.add(span(qid, -1, "query", id, pass, qStart, aEnd));
          spans.add(span(qid + 1, qid, "build", id, pass, qStart, bEnd));
          spans.add(span(qid + 2, qid, "action", id, pass, bEnd, aEnd));
          drainListenerBus();
          buildJobs += attachChildren(qid, id, pass, bEnd);
        }
      } catch (Throwable ex) {
        failed.add(id);
        System.err.println("[enginebench] " + id + " failed: " + ex);
      } finally {
        spark.sparkContext().clearJobGroup();
      }
    }
    double wall = (System.nanoTime() - t0) / 1e9;
    double cpu = processCpuSeconds() - cpu0;
    double steal = stealSeconds() - steal0;
    long[] gc1 = gcTotals();
    long[] p = pauses.takeAndReset();
    Map<String, Object> s = new LinkedHashMap<>();
    s.put("pass", pass);
    s.put("traced", traced);
    s.put("wall_s", wall);
    s.put("cpu_s", cpu);
    s.put("build_s", buildS);
    s.put("action_s", actionS);
    s.put("gc_s", (gc1[0] - gc0[0]) / 1000.0);
    s.put("gc_count", gc1[1] - gc0[1]);
    s.put("pause_s", p[0] / 1e9);
    s.put("pause_max_ms", p[1] / 1e6);
    s.put("steal_s", steal);
    s.put("failed", failed);
    s.put("ids", perId);
    s.put("digests", digests);
    if (traced) {
      drainListenerBus();
      tracer.on = false;
      Counters c;
      synchronized (tracer) {
        c = tracer.c;
      }
      s.put("build_jobs", buildJobs);
      s.put("fn_reregistrations", reregs.count.get());
      s.put("jobs", c.jobs);
      s.put("stages", c.stages);
      s.put("tasks", c.tasks);
      s.put("failed_tasks", c.failedTasks);
      s.put("task_s", c.taskNanos / 1e9);
      s.put("task_cpu_s", c.taskCpuNanos / 1e9);
      s.put("shuffle_write_mb", c.shuffleWrite / 1048576.0);
      s.put("shuffle_read_mb", c.shuffleRead / 1048576.0);
      s.put("spill_mb", c.spill / 1048576.0);
      s.put("input_mb", c.input / 1048576.0);
      s.put("analysis_s", c.analysisS);
      s.put("optimization_s", c.optimizationS);
      s.put("planning_s", c.planningS);
      s.put("plan_nodes", c.planNodes);
      s.put("exchanges", c.exchanges);
    }
    return s;
  }

  /** One timed interval; times are epoch nanoseconds. */
  static Map<String, Object> span(int id, int parent, String layer, String name, int pass,
      long start, long end) {
    Map<String, Object> s = new LinkedHashMap<>();
    s.put("id", id);
    s.put("parent", parent);
    s.put("layer", layer);
    s.put("name", name);
    s.put("pass", pass);
    s.put("start_ns", start);
    s.put("end_ns", Math.max(start, end));
    return s;
  }

  private void drainListenerBus() {
    try {
      spark.sparkContext().listenerBus().waitUntilEmpty();
    } catch (java.util.concurrent.TimeoutException e) {
      throw new IllegalStateException("listener bus did not drain", e);
    }
  }

  /** Turns the listener's jobs and catalyst phases for one id into child
   *  spans of its build or action span, by which interval they start in.
   *  Returns the number of jobs the build launched. */
  private long attachChildren(int qid, String id, int pass, long bEnd) {
    long buildJobs = 0;
    synchronized (tracer) {
      for (JobRec j : tracer.jobs.values()) {
        if (!id.equals(j.group)) continue;
        boolean inBuild = j.start < bEnd;
        if (inBuild) buildJobs++;
        spans.add(span(spans.size(), inBuild ? qid + 1 : qid + 2, "job", id, pass, j.start, j.end));
      }
      tracer.jobs.values().removeIf(j -> id.equals(j.group));
      String[] kinds = {"analysis", "optimization", "planning"};
      for (long[] ph : tracer.phases) {
        spans.add(span(spans.size(), qid + 2, "plan", id + ":" + kinds[(int) ph[2]], pass,
            ph[0] * 1_000_000L, ph[1] * 1_000_000L));
      }
      tracer.phases.clear();
    }
    return buildJobs;
  }

  void writeOracleSql(String dir) throws IOException {
    Map<String, String> sql = new LinkedHashMap<>();
    for (String id : ids) {
      if (!selfVerified.contains(id)) sql.put(id, oracle.apply(id));
    }
    Files.createDirectories(Paths.get(dir));
    JSON.writeValue(Paths.get(dir, "oracle_sql.json").toFile(), sql);
  }

  double extRegisterSeconds() {
    long a = System.nanoTime();
    graft.ext.CatalystExt.register(spark);
    return (System.nanoTime() - a) / 1e9;
  }

  void run() throws Exception {
    boolean trace = "1".equals(arg("trace"));
    pauses.start();
    openSession();
    Map<String, Object> result = new LinkedHashMap<>();
    result.put("ready_ns", epochNanos());
    loadIds();
    result.put("ids", ids);
    result.put("self_verified", selfVerified);
    if (trace) {
      tracer = new Tracer();
      spark.sparkContext().addSparkListener(tracer);
      spark.listenerManager().register(tracer);
      reregs = new ReregistrationCounter();
      reregs.start();
      LoggerContext ctx = (LoggerContext) LogManager.getContext(false);
      ctx.getConfiguration().getRootLogger().addAppender(reregs, Level.WARN, null);
      ctx.updateLoggers();
    }
    result.put("cold", runPass(0, false, null));
    // the output dump doubles as the untimed warm-up pass: after the cold
    // pass the JIT is still compiling, and the next pass is ~1.2x the third
    String dump = arg("dump");
    result.put("dump", runPass(-1, false, dump));
    writeOracleSql(dump);
    List<Map<String, Object>> warm = new ArrayList<>();
    List<Double> calib = new ArrayList<>();
    List<Double> register = new ArrayList<>();
    calib.add(calibMs());
    int passes = Integer.parseInt(arg("passes"));
    for (int pass = 1; pass <= passes; pass++) {
      // a traced run orders its passes traced, untraced, untraced, traced,
      // ... so the JIT's warm-up trend cancels out of the tracing overhead
      boolean traced = trace && (pass % 4 == 1 || pass % 4 == 0);
      warm.add(runPass(pass, traced, null));
      calib.add(calibMs());
      register.add(extRegisterSeconds());
    }
    result.put("warm", warm);
    result.put("calib_ms", calib);
    result.put("register_s", register);
    result.put("rss_peak_mb", vmHwmMb());
    if (trace) JSON.writeValue(Paths.get(arg("spans")).toFile(), spans);
    spark.stop();
    pauses.running = false;
    JSON.writeValue(Paths.get(arg("out")).toFile(), result);
  }

  public static void main(String[] args) throws Exception {
    Map<String, String> conf = new HashMap<>();
    for (String a : args) {
      int i = a.indexOf('=');
      if (i > 0) conf.put(a.substring(0, i), a.substring(i + 1));
    }
    int code = 0;
    try {
      new EngineBench(conf).run();
    } catch (Throwable t) {
      t.printStackTrace();
      code = 1;
    }
    // hand-rolled driver pools inside the program may leave non-daemon
    // threads; the result file is written, so leave without waiting on them
    System.exit(code);
  }
}
