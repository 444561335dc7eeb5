"""Build file of the benchmark: compiles the program (src/main/scala of
the checkout) together with the benchmark's JVM code (cdcbench/src) with
the Scala compiler that ships in Spark's jars, into
.bench_build/cdcbench/classes-<hash>.  The hash covers every source and
resource file and build.sbt, so an edited tree is rebuilt and an
unchanged one is not.

sbt is not used because it writes its server socket, boot locks and
compiler caches under the home directory, and the benchmark writes only
inside its checkout.  The settings of build.sbt that decide how the
program compiles are mirrored instead (see sbt_settings), and a build
whose settings this file cannot mirror stops rather than build the
program differently from the project's own build.

    python3 cdcbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "cdcbench"

# build.sbt keys that do not change how src/main compiles: metadata,
# how sbt runs the program, and test-scoped dependencies (checked
# below).  Test-scoped keys are inert too.  Keys read and mirrored:
# scalaVersion, unmanagedBase, scalacOptions.
_INERT_KEYS = {"version", "name", "organization", "description",
               "javaOptions", "fork", "libraryDependencies"}
_MIRRORED_KEYS = {"scalaVersion", "unmanagedBase", "scalacOptions"}


def sbt_settings():
    """(Spark jars directory, scalacOptions) as build.sbt sets them for
    the program's compile; stops on any setting it cannot mirror."""
    sbt = ROOT / "build.sbt"
    if not sbt.exists():
        raise SystemExit("build: no build.sbt beside cdcbench/")
    code = re.sub(r"//[^\n]*", "", sbt.read_text())
    plugins = [p.name for p in (ROOT / "project").glob("*.sbt")]
    if plugins:
        raise SystemExit(f"build: project/{plugins[0]} may change the "
                         "compile; build.py does not mirror sbt plugins")
    if (ROOT / "src" / "main" / "java").is_dir():
        raise SystemExit("build: src/main/java is not compiled by build.py")
    for scope, key in re.findall(
            r"^\s*(?:ThisBuild\s*/\s*)?(?:(\w+)\s*/\s*)?(\w+)"
            r"\s*(?::=|\+=|\+\+=)", code, re.M):
        if scope != "Test" and key not in _INERT_KEYS | _MIRRORED_KEYS:
            raise SystemExit(f"build: build.sbt sets "
                             f"{scope + ' / ' if scope else ''}{key}, which "
                             "build.py does not mirror")
    for scope in re.findall(r'"[^"]+"\s*%%?\s*"[^"]+"\s*%\s*"[^"]+"'
                            r"([^,)\n]*)", code):
        if not re.search(r"%\s*Test\b", scope):
            raise SystemExit("build: build.sbt has a compile-scope library "
                             "dependency, which build.py does not mirror")

    # sbt applies settings in order, so the last := wins
    version = re.findall(r'scalaVersion\s*:=\s*"([^"]+)"', code)
    base = re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', code)
    options = re.findall(r'(?<!Test / )scalacOptions\s*\+?\+?:?=\s*'
                         r'(Seq\([^)]*\)|"[^"]*")', code)
    jars = (Path(os.environ["SPARK_HOME"]) / "jars"
            if os.environ.get("SPARK_HOME") else
            Path(base[-1]) if base else None)
    if jars is None:
        raise SystemExit("build: set SPARK_HOME (build.sbt names no "
                         "unmanagedBase)")
    have = [p.name[len("scala-compiler-"):-len(".jar")]
            for p in jars.glob("scala-compiler-*.jar")]
    want = version[-1] if version else "(none)"
    if have != [want]:
        raise SystemExit(f"build: build.sbt's scalaVersion {want} is not "
                         f"the Scala compiler in {jars} ({have})")
    return jars, [o for block in options for o in re.findall(r'"([^"]*)"',
                                                             block)]


def spark_jars():
    return sbt_settings()[0]


def _files(d, suffix=None):
    if not d.is_dir():
        return []
    return sorted(p for p in d.rglob("*")
                  if p.is_file() and (suffix is None or p.suffix == suffix))


def ensure():
    jars, options = sbt_settings()
    program = _files(ROOT / "src" / "main" / "scala", ".scala")
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    sources = program + _files(ROOT / "cdcbench" / "src", ".scala")
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256()
    for p in [ROOT / "build.sbt"] + sources + _files(resources):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes

    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    (tmp / "classes").mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cp = str(jars / "*")
    print(f"build: compiling {len(sources)} files", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", str(tmp / "classes"), "-nowarn"]
        + options + ["@" + str(argfile)],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    if resources.is_dir():
        shutil.copytree(resources, tmp / "classes", dirs_exist_ok=True)
    (tmp / "classes" / ".done").write_text("")
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    try:
        os.replace(tmp / "classes", classes)
    except OSError:
        if not (classes / ".done").exists():  # not a concurrent twin
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(ensure())
