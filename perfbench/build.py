"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM code (`perfbench/src`)
into one jar, with the Scala compiler that ships among the Spark jars the
repo's `build.sbt` names as `unmanagedBase`.

  python3 perfbench/build.py [build_dir]

Skips the compile when the sources are unchanged since the last build
(a content hash is kept beside the jar).
"""
import hashlib
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars(root):
    """The jar directory from the repo's build.sbt (`unmanagedBase`)."""
    sbt = root / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("perfbench: no Spark jar directory (unmanagedBase) in build.sbt")
    return Path(m.group(1))


def sources(root):
    srcs = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return srcs + sorted((HERE / "src").glob("*.scala"))


def build(root, out):
    """Compiles into `out/perfbench.jar` unless up to date; returns that path."""
    root, out = Path(root), Path(out)
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode() + b"\0" + s.read_bytes())
    stamp, jar = out / "perfbench.jar.sha256", out / "perfbench.jar"
    if jar.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return jar
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / "perfbench.tmp.jar"
    tmp.unlink(missing_ok=True)
    cp = f"{jars}/*"
    # -XX:-UsePerfData: no hsperfdata file outside the build directory
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(s) for s in srcs],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    tmp.replace(jar)
    stamp.write_text(h.hexdigest())
    return jar


if __name__ == "__main__":
    print(build(Path.cwd(), Path(sys.argv[1]) if len(sys.argv) > 1 else Path(".bench_build/perfbench")))
