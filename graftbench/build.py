"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala), then the harness
(graftbench/src) against them, with the Scala compiler that ships in Spark's
jars directory, and packs each into a jar in .bench_build/ (graft's jar
carries src/main/resources too). The jars directory is $SPARK_HOME/jars, or
else the `unmanagedBase` the repository's build.sbt names. Each step is
skipped when its sources did not change since its last build. Jars, not
class directories, because the JVM's class-data sharing archive (run.py)
accepts only jars on the class path.

    python3 graftbench/build.py     # builds, then prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def jars_dir():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise SystemExit("graftbench: no build.sbt and no SPARK_HOME: cannot find the Spark jars")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("graftbench: build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def scala_sources(top):
    found = sorted(glob.glob(os.path.join(top, "**/*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"graftbench: no Scala sources under {top}")
    return found


def compile_step(name, files, classpath, jars, resources=None):
    """Compile `files` into .bench_build/<name>.jar unless its stamp matches;
    return (jar path, stamp)."""
    out = os.path.join(OUT, name + ".jar")
    h = hashlib.sha256()
    for path in files + (sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True))
                         if resources else []):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    h.update(os.pathsep.join(classpath).encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = out + ".stamp"
    if os.path.isfile(out) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    compiler = [glob.glob(os.path.join(jars, f"scala-{j}-2.*.jar"))
                for j in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"graftbench: no Scala compiler jars in {jars}")
    classes = os.path.join(OUT, name)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", classes, "@" + argfile]
    subprocess.run(cmd, check=True, timeout=800, stdout=sys.stderr)
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for top in [classes] + ([resources] if resources else []):
            for path in sorted(glob.glob(os.path.join(top, "**/*"), recursive=True)):
                if os.path.isfile(path):
                    z.write(path, os.path.relpath(path, top))
    os.replace(out + ".tmp", out)
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


def ensure_built():
    """Compile what changed; return (runtime classpath, build id)."""
    jars = jars_dir()
    program = scala_sources(os.path.join(ROOT, "src/main/scala"))
    os.makedirs(OUT, exist_ok=True)
    spark = os.path.join(jars, "*")
    graft, s1 = compile_step("graft", program, [spark], jars,
                             resources=os.path.join(ROOT, "src/main/resources"))
    harness, s2 = compile_step("harness", scala_sources(os.path.join(HERE, "src")),
                               [graft, spark], jars)
    return os.pathsep.join([harness, graft, spark]), hashlib.sha256((s1 + s2).encode()).hexdigest()[:16]


if __name__ == "__main__":
    print(ensure_built()[0])
