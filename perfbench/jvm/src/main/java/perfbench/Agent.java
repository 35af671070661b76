package perfbench;

import java.io.ByteArrayInputStream;
import java.lang.instrument.ClassFileTransformer;
import java.lang.instrument.Instrumentation;
import java.security.ProtectionDomain;
import java.util.HashMap;
import java.util.Map;
import java.util.TreeMap;
import java.util.concurrent.ConcurrentHashMap;

import javassist.ClassPool;
import javassist.CtClass;
import javassist.CtMethod;
import javassist.LoaderClassPath;
import javassist.expr.ExprEditor;
import javassist.expr.MethodCall;

/**
 * Traced-run javaagent: wraps the program's public layer entry points
 * in {@link Spans} calls at class-load time, so the shipped
 * {@code graft.server.ServerMain} and {@code graft.Bench} run unchanged
 * while the benchmark records where their time goes.
 *
 * Each target is (class, method, parameter descriptor prefix, span name).
 * The agent counts the methods (and call sites) it instrumented per span
 * name, so a traced run can tell a layer that took no time from a layer
 * whose entry point no longer matches.
 */
public final class Agent {

    private static final Map<String, Integer> INSTRUMENTED = new ConcurrentHashMap<>();

    private static void count(String span, int n) {
        INSTRUMENTED.merge(span, n, Integer::sum);
    }

    /** Methods or call sites instrumented so far, per span name, as a
     * JSON object. */
    public static String instrumentedJson() {
        StringBuilder b = new StringBuilder("{");
        for (Map.Entry<String, Integer> e : new TreeMap<>(INSTRUMENTED).entrySet()) {
            if (b.length() > 1) b.append(',');
            b.append('"').append(e.getKey()).append("\":").append(e.getValue());
        }
        return b.append('}').toString();
    }

    private static final String[][] TARGETS = {
        {"graft.tsql.Parser$", "parse", "(Ljava/lang/String;)", "tsql.parse"},
        {"graft.engine.StatementExecutor", "execute",
            "(Lgraft/tsql/Statement;Lgraft/engine/TsSession;)", "engine.execute"},
        {"graft.catalog.TsCatalog", "readSeries", "(", "catalog.readSeries"},
        {"graft.catalog.TsCatalog", "insert", "(", "catalog.insert"},
        {"graft.catalog.TsCatalog", "compact", "(", "catalog.compact"},
        {"graft.protocol.Wire$", "encodeResponse", "(", "protocol.encode"},
        {"org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$",
            "doCompile", "(", "spark.codegen_compile"},
        {"org.apache.spark.sql.classic.DataFrameWriter", "save", "()", "batch.save"},
    };

    public static void premain(String args, Instrumentation inst) {
        Map<String, String[][]> byClass = new HashMap<>();
        for (String[] t : TARGETS) {
            String internal = t[0].replace('.', '/');
            String[][] prev = byClass.getOrDefault(internal, new String[0][]);
            String[][] next = java.util.Arrays.copyOf(prev, prev.length + 1);
            next[prev.length] = t;
            byClass.put(internal, next);
        }
        inst.addTransformer(new ClassFileTransformer() {
            @Override
            public byte[] transform(ClassLoader loader, String name, Class<?> cls,
                                    ProtectionDomain pd, byte[] bytes) {
                if (name == null) return null;
                try {
                    if (name.equals("graft/Bench$")) return benchRep(loader, bytes);
                    String[][] targets = byClass.get(name);
                    return targets == null ? null : wrap(loader, bytes, targets);
                } catch (Throwable e) {
                    System.err.println("[perfbench-agent] cannot instrument " + name + ": " + e);
                    return null;
                }
            }
        });
    }

    private static CtClass load(ClassLoader loader, byte[] bytes) throws Exception {
        ClassPool pool = new ClassPool(true);
        if (loader != null) pool.appendClassPath(new LoaderClassPath(loader));
        return pool.makeClass(new ByteArrayInputStream(bytes));
    }

    private static byte[] wrap(ClassLoader loader, byte[] bytes, String[][] targets)
            throws Exception {
        CtClass cc = load(loader, bytes);
        Map<String, Integer> done = new HashMap<>();
        for (String[] t : targets) {
            int n = 0;
            for (CtMethod m : cc.getDeclaredMethods(t[1])) {
                if (!m.getSignature().startsWith(t[2]) || m.isEmpty()) continue;
                n++;
                StringBuilder before = new StringBuilder();
                if (t[3].equals("tsql.parse")) before.append("perfbench.Spans.beginStatement($1);");
                before.append("perfbench.Spans.enter();");
                m.insertBefore(before.toString());
                m.insertAfter(t[3].equals("protocol.encode")
                    ? "perfbench.Spans.encoded(($w) $_);"
                    : "perfbench.Spans.exit(\"" + t[3] + "\");", true);
            }
            done.put(t[3], n);
        }
        byte[] out = cc.toBytecode();
        cc.detach();
        done.forEach(Agent::count);
        return out;
    }

    /** graft.Bench's per-rep timer: a new trace context per rep, and a
     * build span around the query-function call (SparkEntry.queries(k)
     * applied to the session and fixture directory). */
    private static byte[] benchRep(ClassLoader loader, byte[] bytes) throws Exception {
        CtClass cc = load(loader, bytes);
        int reps = 0;
        int[] builds = {0};
        for (CtMethod m : cc.getDeclaredMethods()) {
            if (!m.getName().startsWith("timeOnce")) continue;
            reps++;
            m.insertBefore("perfbench.Spans.beginRep();");
            m.instrument(new ExprEditor() {
                @Override
                public void edit(MethodCall mc) throws javassist.CannotCompileException {
                    if (!mc.getClassName().equals("scala.Function2") || !mc.getMethodName().equals("apply"))
                        return;
                    builds[0]++;
                    mc.replace("{ perfbench.Spans.phase(\"build\"); perfbench.Spans.enter();"
                        + " $_ = $proceed($$);"
                        + " perfbench.Spans.exit(\"queries.build\");"
                        + " perfbench.Spans.phase(\"exec\"); }");
                }
            });
        }
        byte[] out = cc.toBytecode();
        cc.detach();
        count("bench.rep", reps);
        count("queries.build", builds[0]);
        return out;
    }
}
