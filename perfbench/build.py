"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships among
Spark's jars ($SPARK_HOME/jars), so the build needs no dependency resolver
and writes nothing outside the checkout. Output goes to a directory named
after a digest of every input under .bench_build/perfbench/, so an
unchanged tree is compiled once.

    python3 perfbench/build.py      # prints the class directory
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = pathlib.Path(home, "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def inputs():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources at {main.relative_to(ROOT)}")
    sources = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return sources, resources, res


def build():
    """Return (class directory, whether it was compiled now)."""
    jars = spark_jars()
    sources, resources, res = inputs()
    h = hashlib.sha256()
    for p in sources + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes, False
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = classes.with_name(classes.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cp = f"{jars}/*"
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for p in res:
        dest = tmp / p.relative_to(resources)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    (tmp / ".complete").write_text("")
    for old in OUT.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
