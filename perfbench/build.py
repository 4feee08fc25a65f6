"""Compile the program and the benchmark harness from source.

The program's Scala sources (src/main/scala) and the harness sources
(perfbench/scala) are compiled with the Scala compiler that ships among the
Spark jars the repository's build.sbt names as its `unmanagedBase`. Outputs
go under the build directory; a source digest stamps each output, so an
unchanged tree is not compiled twice.

    python3 perfbench/build.py          # build into $CARGO_TARGET_DIR or .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


class BuildError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def jars_dir():
    """The jar directory build.sbt declares as unmanagedBase."""
    sbt = ROOT / "build.sbt"
    text = sbt.read_text() if sbt.is_file() else ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m:
        raise BuildError(f"no unmanagedBase jar directory in {sbt}")
    return Path(m.group(1))


def _digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(sources, out, classpath, stamp, log):
    stamp_file = out.with_name(out.name + ".stamp")
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = tmp.with_name(out.name + ".args")
    args_file.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars_dir() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, "@" + str(args_file)]
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {out.name} failed, see {log}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)


def ensure():
    """Build what is stale; return the runtime classpath entries."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        raise BuildError(f"program sources not found at {src}")
    jars = jars_dir()
    if not (jars.is_dir() and any(jars.glob("scala-compiler*.jar"))):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    program_src = sorted(src.rglob("*.scala"))
    bench_src = sorted((BENCH_DIR / "scala").glob("*.scala"))
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    log = out / "build.log"
    program = out / "program-classes"
    bench = out / "bench-classes"
    program_stamp = _digest(program_src)
    _compile(program_src, program, str(jars / "*"), program_stamp, log)
    _compile(bench_src, bench, str(program) + os.pathsep + str(jars / "*"),
             _digest(bench_src, program_stamp), log)
    cp = [str(bench), str(program)]
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        cp.append(str(resources))
    return cp + [str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
