"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, so no build tool or network is needed.

    python3 perfbench/build.py      # prints the runtime classpath

Outputs go to perfbench/.build/. A build is reused while the sources and the
Spark jars are unchanged.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"


class BuildError(RuntimeError):
    pass


def _sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not prog:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not bench:
        raise BuildError(f"no harness sources under {BENCH / 'src'}")
    return prog, bench


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def _scalac(dest: Path, classpath: str, files, log: Path):
    dest.mkdir(parents=True)
    args = dest.parent / (dest.name + ".args")
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(dest), f"@{args}"]
    with open(log, "ab") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}; see {log}")


def _spark_home() -> Path:
    """$SPARK_HOME, else the first Spark install on PATH that has its jars
    (a pip-installed pyspark's spark-submit comes without them)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.get_exec_path():
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").exists() and any((home / "jars").glob("spark-core_*.jar")):
            return home
    raise BuildError("set SPARK_HOME or put a Spark distribution's bin/ on PATH")


def classpath() -> str:
    """Builds if needed and returns the harness's runtime classpath."""
    jars_dir = _spark_home() / "jars"
    jars = sorted(jars_dir.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}")
    prog, bench = _sources()
    resources = ROOT / "src" / "main" / "resources"
    stamp = _stamp(prog + bench + sorted(p for p in resources.rglob("*") if p.is_file()), jars)
    spark_cp = str(jars_dir / "*")
    cp = os.pathsep.join([str(OUT / "program"), str(resources), str(OUT / "bench"), spark_cp])
    BENCH.joinpath(".build.lock").touch()
    with open(BENCH / ".build.lock") as lock:
        # One build at a time; a second caller waits and reuses it.
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = OUT / "stamp"
        if not (stamp_file.exists() and stamp_file.read_text() == stamp):
            _build(prog, bench, spark_cp, stamp)
    return cp


def _build(prog, bench, spark_cp, stamp):
    tmp = OUT.with_name(".build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log = tmp / "build.log"
    _scalac(tmp / "program", spark_cp, prog, log)
    _scalac(tmp / "bench", os.pathsep.join([str(tmp / "program"), spark_cp]), bench, log)
    (tmp / "stamp").write_text(stamp)
    shutil.rmtree(OUT, ignore_errors=True)
    tmp.rename(OUT)


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
