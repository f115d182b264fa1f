"""Build file of the benchmark: compiles graft's main sources and the
harness (`perfbench/src`) with the Scala compiler that ships among
Spark's jars, into `perfbench/.build/`. A content hash of the sources
decides whether a compile is needed, so repeated runs reuse the classes.

    python3 perfbench/build.py      # from the root of the repository
"""

import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise RuntimeError(f"no jars directory under SPARK_HOME={home}")
    return jars


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(files, base, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, out, classpath, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError(f"scalac failed ({r.returncode}) building {out}")


def build(repo, log=lambda m: print(m, file=sys.stderr)):
    """Compile what changed; return the run classpath."""
    src = os.path.join(repo, "src", "main", "scala")
    resources = os.path.join(repo, "src", "main", "resources")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"graft sources not found at {src}")
    jars = os.path.join(spark_jars(), "*")
    build_dir = os.path.join(BENCH, ".build")
    os.makedirs(build_dir, exist_ok=True)
    graft_out = os.path.join(build_dir, "graft")
    bench_out = os.path.join(build_dir, "harness")
    graft_files = _sources(src)
    graft_stamp = _digest(graft_files, repo)
    bench_stamp = _digest(_sources(os.path.join(BENCH, "src")), repo, graft_stamp)
    for files, out, stamp, cp in (
            (graft_files, graft_out, graft_stamp, jars),
            (_sources(os.path.join(BENCH, "src")), bench_out, bench_stamp,
             graft_out + os.pathsep + jars)):
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        t0 = time.time()
        _compile(files, out, cp, log)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"[perfbench] compiled {len(files)} files into {os.path.relpath(out, repo)} "
            f"in {time.time() - t0:.1f} s")
    return os.pathsep.join([bench_out, graft_out, resources, jars])


if __name__ == "__main__":
    build(os.getcwd())
