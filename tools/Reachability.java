import org.apache.xbean.asm9.ClassReader;
import org.apache.xbean.asm9.ClassVisitor;
import org.apache.xbean.asm9.Handle;
import org.apache.xbean.asm9.MethodVisitor;
import org.apache.xbean.asm9.Opcodes;

import java.io.IOException;
import java.io.InputStream;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayDeque;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.HashSet;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.TreeSet;
import java.util.regex.Matcher;
import java.util.regex.Pattern;
import java.util.stream.Stream;

/**
 * Static call-graph reachability over the compiled engine classes: prints every
 * method that no production entry point can reach.
 *
 * <pre>
 * sbt compile
 * java -cp "/opt/spark/jars/*:target/scala-2.13/classes" tools/Reachability.java \
 *     [classesDir] [perfbenchSrcDir]
 * </pre>
 *
 * Roots: the {@code main} of Bench, Verify, Smoke, TimeQ, Explain and
 * DeepLearningPipeline; every {@code Object.member} that the perfbench sources
 * name; every {@code <clinit>}; every method that overrides a method of a
 * supertype outside the scanned classes (Spark, Scala and JDK callbacks), plus
 * the serialization hooks. A call marks the callee's name and descriptor in its
 * owner, in the owner's supertypes and in all its subtypes (virtual dispatch
 * either way); {@code invokedynamic} bootstrap handles count as calls.
 * Constructors, synthetic and bridge methods, lambda bodies, Scala static and
 * mixin forwarders and the members the compiler writes for every case class
 * ({@code copy}, companion {@code apply}/{@code unapply}) are followed but never
 * reported. Reflection and constant folding are invisible to the graph (a
 * Scala {@code final val} accessor is inlined at every use), so a reported
 * method is a candidate to confirm with grep, not proof.
 */
public class Reachability {

    static final String[] MAINS = {"graft/Bench", "graft/Verify", "graft/Smoke",
        "graft/TimeQ", "graft/Explain", "graft/rbm/DeepLearningPipeline"};

    static final class Meth {
        final String name, desc;
        final int access;
        final List<String[]> calls = new ArrayList<>();
        Meth(String name, String desc, int access) {
            this.name = name; this.desc = desc; this.access = access;
        }
        String sig() { return name + desc; }
    }

    static final class Cls {
        String name, sup;
        String[] ifaces = new String[0];
        final Map<String, Meth> methods = new LinkedHashMap<>();
        List<String> supers() {
            List<String> s = new ArrayList<>(List.of(ifaces));
            if (sup != null) s.add(sup);
            return s;
        }
    }

    static final Map<String, Cls> scanned = new HashMap<>();
    static final Map<String, Cls> external = new HashMap<>();
    static final Map<String, Set<String>> subtypes = new HashMap<>();
    static final Set<String> reached = new HashSet<>();
    static final ArrayDeque<String[]> work = new ArrayDeque<>();

    static Cls read(InputStream in, boolean withCalls) throws IOException {
        Cls c = new Cls();
        new ClassReader(in).accept(new ClassVisitor(Opcodes.ASM9) {
            @Override
            public void visit(int v, int acc, String name, String sig, String sup, String[] ifs) {
                c.name = name; c.sup = sup;
                if (ifs != null) c.ifaces = ifs;
            }
            @Override
            public MethodVisitor visitMethod(int acc, String name, String desc, String sig, String[] ex) {
                Meth m = new Meth(name, desc, acc);
                c.methods.put(m.sig(), m);
                if (!withCalls) return null;
                return new MethodVisitor(Opcodes.ASM9) {
                    @Override
                    public void visitMethodInsn(int op, String owner, String n, String d, boolean itf) {
                        m.calls.add(new String[]{owner, n, d});
                    }
                    @Override
                    public void visitInvokeDynamicInsn(String n, String d, Handle bsm, Object... args) {
                        for (Object a : args) visitLdcInsn(a);
                    }
                    @Override
                    public void visitLdcInsn(Object v) {
                        if (v instanceof Handle h) m.calls.add(new String[]{h.getOwner(), h.getName(), h.getDesc()});
                    }
                };
            }
        }, ClassReader.SKIP_DEBUG | ClassReader.SKIP_FRAMES);
        return c;
    }

    /** A supertype outside the scanned classes, read from the classpath (null if absent). */
    static Cls externalClass(String name) {
        if (external.containsKey(name)) return external.get(name);
        Cls c = null;
        try (InputStream in = ClassLoader.getSystemResourceAsStream(name + ".class")) {
            if (in != null) c = read(in, false);
        } catch (IOException e) {
            throw new RuntimeException(e);
        }
        external.put(name, c);
        return c;
    }

    /** Does a non-scanned supertype of `c` declare an overridable `sig`? */
    static boolean overridesExternal(Cls c, String sig, Set<String> seen) {
        for (String s : c.supers()) {
            if (!seen.add(s)) continue;
            Cls sc = scanned.get(s);
            if (sc == null) {
                sc = externalClass(s);
                if (sc == null) continue;
                Meth m = sc.methods.get(sig);
                if (m != null && (m.access & (Opcodes.ACC_PRIVATE | Opcodes.ACC_STATIC)) == 0) return true;
            }
            if (overridesExternal(sc, sig, seen)) return true;
        }
        return false;
    }

    static void reach(String owner, String sig) {
        Cls c = scanned.get(owner);
        if (c != null && c.methods.containsKey(sig) && reached.add(owner + "." + sig))
            work.add(new String[]{owner, sig});
    }

    /** Marks `sig` in `owner`, its supertypes and its subtypes. */
    static void call(String owner, String sig) {
        ArrayDeque<String> up = new ArrayDeque<>(List.of(owner));
        Set<String> seen = new HashSet<>();
        while (!up.isEmpty()) {
            String o = up.pop();
            if (!seen.add(o)) continue;
            reach(o, sig);
            Cls c = scanned.get(o);
            if (c != null) up.addAll(c.supers());
        }
        ArrayDeque<String> down = new ArrayDeque<>(subtypes.getOrDefault(owner, Set.of()));
        seen.clear();
        while (!down.isEmpty()) {
            String o = down.pop();
            if (!seen.add(o)) continue;
            reach(o, sig);
            down.addAll(subtypes.getOrDefault(o, Set.of()));
        }
    }

    /** Every `Object.member` / `Outer.Inner(` the perfbench sources name. */
    static void perfbenchRoots(Path src) throws IOException {
        if (!Files.isDirectory(src)) return;
        Map<String, List<String>> bySimple = new HashMap<>();
        for (String n : scanned.keySet())
            bySimple.computeIfAbsent(n.substring(n.lastIndexOf('/') + 1), k -> new ArrayList<>()).add(n);
        Pattern ref = Pattern.compile("\\b([A-Z]\\w*)\\.(\\w+)");
        try (Stream<Path> files = Files.walk(src)) {
            for (Path f : (Iterable<Path>) files.filter(p -> p.toString().endsWith(".scala"))::iterator) {
                Matcher m = ref.matcher(Files.readString(f));
                while (m.find()) {
                    String obj = m.group(1), member = m.group(2);
                    boolean nested = Character.isUpperCase(member.charAt(0));
                    String cls = nested ? obj + "$" + member + "$" : obj + "$";
                    String name = nested ? "apply" : member;
                    for (String owner : bySimple.getOrDefault(cls, List.of()))
                        for (Meth mt : scanned.get(owner).methods.values())
                            if (mt.name.equals(name) || mt.name.startsWith(name + "$default$")) call(owner, mt.sig());
                }
            }
        }
    }

    static boolean isCaseClass(String name) {
        Cls c = scanned.get(name);
        return c != null && c.methods.containsKey("productArity()I");
    }

    static final Set<String> CASE_COMPANION = Set.of("apply", "unapply", "curried", "tupled",
        "andThen", "compose", "toString");

    static boolean reportable(Cls c, Meth m) {
        if ((m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) != 0) return false;
        if (m.name.startsWith("<") || m.name.contains("$anonfun$") || m.name.endsWith("$adapted")
            || m.name.endsWith("$lzycompute") || m.name.equals("$deserializeLambda$")) return false;
        // Scala forwarders: static `X.m` to module `X$.m`, and a mixin `C.m` to trait `T.m$`
        if (m.calls.size() == 1) {
            String[] to = m.calls.get(0);
            boolean isStatic = (m.access & Opcodes.ACC_STATIC) != 0;
            if (isStatic && to[0].equals(c.name + "$") && to[1].equals(m.name)) return false;
            if (!isStatic && to[1].equals(m.name + "$")) return false;
        }
        // what the compiler writes for every case class
        if (isCaseClass(c.name) && (m.name.equals("copy") || m.name.startsWith("copy$default$")))
            return false;
        if (c.name.endsWith("$") && isCaseClass(c.name.substring(0, c.name.length() - 1))
            && (CASE_COMPANION.contains(m.name) || m.name.startsWith("$lessinit$greater$default$")))
            return false;
        return true;
    }

    public static void main(String[] args) throws IOException {
        Path classes = Paths.get(args.length > 0 ? args[0] : "target/scala-2.13/classes");
        Path bench = Paths.get(args.length > 1 ? args[1] : "perfbench/src");
        try (Stream<Path> files = Files.walk(classes)) {
            for (Path f : (Iterable<Path>) files.filter(p -> p.toString().endsWith(".class"))::iterator)
                try (InputStream in = Files.newInputStream(f)) {
                    Cls c = read(in, true);
                    scanned.put(c.name, c);
                }
        }
        for (Cls c : scanned.values())
            for (String s : c.supers()) subtypes.computeIfAbsent(s, k -> new HashSet<>()).add(c.name);

        for (String main : MAINS) {
            reach(main, "main([Ljava/lang/String;)V");
            reach(main + "$", "main([Ljava/lang/String;)V");
        }
        for (Cls c : scanned.values())
            for (Meth m : c.methods.values()) {
                boolean hook = m.name.equals("readResolve") || m.name.equals("writeReplace");
                boolean virtual = (m.access & (Opcodes.ACC_STATIC | Opcodes.ACC_PRIVATE)) == 0
                    && !m.name.startsWith("<");
                if (m.name.equals("<clinit>") || hook
                    || virtual && overridesExternal(c, m.sig(), new HashSet<>()))
                    reach(c.name, m.sig());
            }
        perfbenchRoots(bench);

        while (!work.isEmpty()) {
            String[] om = work.pop();
            for (String[] call : scanned.get(om[0]).methods.get(om[1]).calls) call(call[0], call[1] + call[2]);
        }

        TreeSet<String> dead = new TreeSet<>();
        for (Cls c : scanned.values())
            for (Meth m : c.methods.values())
                if (!reached.contains(c.name + "." + m.sig()) && reportable(c, m))
                    dead.add(c.name.replace('/', '.') + "." + m.name + " " + m.desc);
        dead.forEach(System.out::println);
        System.err.println("[reachability] " + scanned.size() + " classes, " + reached.size()
            + " reachable methods, " + dead.size() + " unreachable");
    }
}
