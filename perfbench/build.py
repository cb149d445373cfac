"""Build file of the benchmark: compiles the library sources and the
harness into one jar with the Scala compiler that ships in the Spark jar
directory, then records a class-data archive of the JVM's start-up
classes. The output is cached under the build directory and keyed by a
hash of every source file, so a checkout builds once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import zipfile


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        raise BuildError(f"no Spark jar directory ('{d}'); set SPARK_HOME")
    return d


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                               recursive=True))
    if not lib:
        raise BuildError(f"no library sources under {root}/src/main/scala")
    if not harness:
        raise BuildError(f"no harness sources under {root}/perfbench/src")
    return lib + harness


def source_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compiler_jars(jars):
    out = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found in {jars}")
        out.append(found[-1])
    return out


def build(root, build_dir, log=print):
    """Return (build output dir, source hash); rebuild when sources changed.
    The output dir holds perfbench.jar and its class-data archive."""
    files = sources(root)
    jars = spark_jars(root)
    digest = source_hash(root, files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "out"))
    javatmp = os.path.join(build_dir, "tmp")
    os.makedirs(javatmp, exist_ok=True)
    cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("-nowarn\n-usejavacp:false\n-classpath\n" + ":".join(cp) + "\n")
        fh.write("-d\n" + os.path.join(tmp, "out") + "\n")
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={javatmp}",
           "-cp", ":".join(compiler_jars(jars)),
           "scala.tools.nsc.Main", "@" + argfile]
    log(f"compiling {len(files)} Scala sources ...")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    out = os.path.join(classes, "out")
    jar = os.path.join(classes, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(out):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    shutil.rmtree(out)
    # a class-data archive of the JVM's start-up classes: later JVMs map
    # it instead of loading and verifying those classes again
    cmd = jvm_command(root, classes, javatmp, dump=True) + [
        "perfbench.Main", "--workload", "none", "--seed", "0", "--seconds", "0",
        "--trace", "0", "--data", javatmp, "--work", javatmp,
        "--out", os.path.join(javatmp, "none.json")]
    log("recording the class-data archive ...")
    r = subprocess.run(cmd, cwd=javatmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=300)
    if r.returncode != 0 or not os.path.exists(os.path.join(classes, "perfbench.jsa")):
        raise BuildError("class-data archive run failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm_command(root, classes, tmpdir, dump=False):
    """The benchmark JVM: the flags Spark needs on JDK 17, logging to
    stderr, temp files under `tmpdir`, and the class-data archive."""
    jar = os.path.join(classes, "perfbench.jar")
    archive = os.path.join(classes, "perfbench.jsa")
    jars = sorted(glob.glob(os.path.join(spark_jars(root), "*.jar")))
    cds = (f"-XX:ArchiveClassesAtExit={archive}" if dump
           else f"-XX:SharedArchiveFile={archive}")
    return (["java", "-Xmx3g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData", cds,
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={tmpdir}",
             "-Dlog4j2.configurationFile=file:" +
             os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", ":".join([jar] + jars)])
