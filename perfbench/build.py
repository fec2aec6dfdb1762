"""Build file of the benchmark package: compiles the program's Scala sources
(src/main/scala) and the harness (perfbench/src) with the Scala compiler that
ships among the Spark jars, into .bench_build/. Each half is rebuilt only when
a hash of its sources changes."""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def build_dir(root):
    return os.path.join(root, ".bench_build")


def spark_jars(root):
    """The jars the repository's sbt build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    jar_dir = None
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jar_dir = m and m.group(1)
    jar_dir = jar_dir or os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {jar_dir}")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, base, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in classpath
                if os.path.basename(j).startswith(("scala-compiler", "scala-library",
                                                   "scala-reflect"))]
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(classpath)]
                           + files))
    with open(log, "w") as lf:
        rc = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                             "scala.tools.nsc.Main", "@" + argfile],
                            stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"perfbench: compilation failed (log: {log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure_built(root):
    """Compile what is stale; return the runtime classpath."""
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
    main_files, bench_files = _sources(main_src), _sources(bench_src)
    if not main_files or not bench_files:
        raise SystemExit(f"perfbench: no Scala sources under {main_src} or {bench_src}")
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    jars = spark_jars(root)
    main_cls, bench_cls = os.path.join(out, "main-classes"), os.path.join(out, "bench-classes")
    main_stamp = _digest(main_files, main_src, "\n".join(jars))
    bench_stamp = _digest(bench_files, bench_src, main_stamp)
    for files, cls, stamp, cp in ((main_files, main_cls, main_stamp, jars),
                                  (bench_files, bench_cls, bench_stamp, jars + [main_cls])):
        stamp_file = cls + ".stamp"
        current = open(stamp_file).read() if os.path.exists(stamp_file) else None
        if current != stamp or not os.path.isdir(cls):
            _compile(files, cls, cp, cls + ".log")
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
    return [bench_cls, main_cls] + jars
