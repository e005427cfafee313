import java.io.IOException;
import java.io.PrintWriter;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.locks.LockSupport;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;

/**
 * Wall-clock profile of one benchmark run: runs {@code graftbench.Main} with
 * the given arguments while a daemon thread samples the main thread's stack
 * about every 0.5 ms, whatever state the thread is in. JFR's execution
 * sampler sees only running threads, so it misses the time the driver
 * spends waiting on Spark jobs; this sampler counts it.
 *
 * <p>A {@link JobLog} listener, registered through {@code
 * spark.extraListeners}, logs every Spark job: start and end (ms since the
 * launcher started), call site, task count, and the summed executor run
 * and executor deserialize times of its tasks.
 *
 * <p>Output, under the prefix given by {@code -Dwall.out} (default {@code
 * wall}):
 * <ul>
 *   <li>{@code <prefix>.collapsed}: one line per distinct stack, frames
 *       root to leaf joined by {@code ;}, then its sample count (the
 *       flame-graph input format);</li>
 *   <li>{@code <prefix>.jobs.tsv}: one line per job;</li>
 *   <li>on stderr, the 25 innermost {@code graft} frames holding the most
 *       samples.</li>
 * </ul>
 *
 * <p>Build and run from the repository root, after {@code
 * perfbench/build.sh} has built the classes:
 * <pre>
 *   javac -cp "/opt/spark/jars/*" -d /tmp/ws tools/WallSampler.java
 *   java -Dwall.out=/tmp/maintain -Dgraft.debug.timing=true ... \
 *     -cp "/tmp/ws:CLASSES:/opt/spark/jars/*" WallSampler --workload maintain ...
 * </pre>
 * with the JVM options and arguments {@code perfbench/run.py} passes.
 */
public final class WallSampler {
  private static final long T0 = System.nanoTime();
  private static final long PERIOD_NS = 500_000L;

  static long nowMs() {
    return (System.nanoTime() - T0) / 1_000_000L;
  }

  /** Logs each Spark job with the executor times of its tasks. */
  public static final class JobLog extends SparkListener {
    static final List<String> LINES = new ArrayList<>();
    private final Map<Integer, Integer> jobOfStage = new ConcurrentHashMap<>();
    private final Map<Integer, long[]> perJob = new ConcurrentHashMap<>();
    private final Map<Integer, String> started = new ConcurrentHashMap<>();

    @Override
    public void onJobStart(SparkListenerJobStart js) {
      int job = js.jobId();
      // the call site is the name of the job's last stage
      String site = "";
      int last = -1;
      scala.collection.Iterator<StageInfo> it = js.stageInfos().iterator();
      while (it.hasNext()) {
        StageInfo si = it.next();
        jobOfStage.put(si.stageId(), job);
        if (si.stageId() > last) {
          last = si.stageId();
          site = si.name();
        }
      }
      perJob.put(job, new long[3]); // tasks, run ms, deserialize ms
      started.put(job, nowMs() + "\t" + site.replace('\t', ' '));
    }

    @Override
    public void onTaskEnd(SparkListenerTaskEnd te) {
      Integer job = jobOfStage.get(te.stageId());
      if (job == null || te.taskMetrics() == null) return;
      long[] acc = perJob.get(job);
      synchronized (acc) {
        acc[0] += 1;
        acc[1] += te.taskMetrics().executorRunTime();
        acc[2] += te.taskMetrics().executorDeserializeTime();
      }
    }

    @Override
    public void onJobEnd(SparkListenerJobEnd je) {
      int job = je.jobId();
      long[] acc = perJob.remove(job);
      String start = started.remove(job);
      if (acc == null || start == null) return;
      String[] s = start.split("\t", 2);
      synchronized (LINES) {
        LINES.add(job + "\t" + s[0] + "\t" + nowMs() + "\t" + acc[0] + "\t" + acc[1] + "\t"
            + acc[2] + "\t" + s[1]);
      }
    }
  }

  public static void main(String[] args) throws Exception {
    String out = System.getProperty("wall.out", "wall");
    String prior = System.getProperty("spark.extraListeners");
    String mine = JobLog.class.getName();
    System.setProperty("spark.extraListeners", prior == null ? mine : prior + "," + mine);

    Thread main = Thread.currentThread();
    Map<String, Integer> stacks = new HashMap<>();
    int[] total = {0};
    Thread sampler = new Thread(() -> {
      while (true) {
        StackTraceElement[] st = main.getStackTrace();
        if (st.length > 0) {
          StringBuilder sb = new StringBuilder();
          for (int i = st.length - 1; i >= 0; i--) {
            if (sb.length() > 0) sb.append(';');
            sb.append(st[i].getClassName()).append('.').append(st[i].getMethodName());
          }
          synchronized (stacks) {
            stacks.merge(sb.toString(), 1, Integer::sum);
            total[0]++;
          }
        }
        LockSupport.parkNanos(PERIOD_NS);
      }
    }, "wall-sampler");
    sampler.setDaemon(true);

    Runtime.getRuntime().addShutdownHook(new Thread(() -> {
      try {
        report(out, stacks, total);
      } catch (IOException e) {
        System.err.println("WallSampler: " + e);
      }
    }));
    sampler.start();
    Class.forName("graftbench.Main").getMethod("main", String[].class)
        .invoke(null, (Object) args);
  }

  private static void report(String out, Map<String, Integer> stacks, int[] total)
      throws IOException {
    Map<String, Integer> inner = new HashMap<>();
    try (PrintWriter w = new PrintWriter(Files.newBufferedWriter(Paths.get(out + ".collapsed")))) {
      synchronized (stacks) {
        for (Map.Entry<String, Integer> e : stacks.entrySet()) {
          w.println(e.getKey() + " " + e.getValue());
          String[] frames = e.getKey().split(";");
          String g = "(no graft frame)";
          for (int i = frames.length - 1; i >= 0; i--) {
            if (frames[i].startsWith("graft.")) {
              g = frames[i];
              break;
            }
          }
          inner.merge(g, e.getValue(), Integer::sum);
        }
      }
    }
    try (PrintWriter w = new PrintWriter(Files.newBufferedWriter(Paths.get(out + ".jobs.tsv")))) {
      w.println("job\tstart_ms\tend_ms\ttasks\trun_ms\tdeserialize_ms\tcall_site");
      synchronized (JobLog.LINES) {
        for (String l : JobLog.LINES) w.println(l);
      }
    }
    System.err.println("WallSampler: " + total[0] + " samples; innermost graft frames:");
    inner.entrySet().stream()
        .sorted((a, b) -> b.getValue() - a.getValue())
        .limit(25)
        .forEach(e -> System.err.printf("%8d  %s%n", e.getValue(), e.getKey()));
  }
}
