"""Builds the program and the benchmark's JVM harness from source.

The program's Scala sources (`src/main/scala`, plus `src/main/java` and
`src/main/resources` when present) and the harness under `perfbench/src`
are compiled with the Scala compiler that ships in Spark's jars, against
those jars, into `.bench_build/<source hash>/`. A tree that is already
built is reused, so only the first run in a checkout pays the build.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars():
    """The jars of `$SPARK_HOME`, else of the first Spark whose
    `spark-submit` is on the PATH; they must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler*.jar")):
            return jars
    sys.exit("build: no Spark jars with the Scala compiler found; set SPARK_HOME")


def sources(root):
    main = root / "src" / "main"
    scala = sorted((main / "scala").rglob("*.scala")) if (main / "scala").is_dir() else []
    java = sorted((main / "java").rglob("*.java")) if (main / "java").is_dir() else []
    own = sorted((HERE / "src").rglob("*.scala"))
    return scala, java, own


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()[:16]


def compile_scala(files, out, classpath, log):
    args = out.parent / f"{out.name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", classpath,
                    "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
                    f"@{args}"],
                   check=True, stdout=log, stderr=subprocess.STDOUT)


def build(root):
    """Returns the classpath entries of the built program and harness."""
    scala, java, own = sources(root)
    if not scala:
        raise SystemExit(f"build: no program sources under {root}/src/main/scala")
    jars = f"{spark_jars()}/*"
    base = root / ".bench_build" / tree_hash(scala + java + own)
    program, harness = base / "program", base / "harness"
    resources = root / "src" / "main" / "resources"
    if not (base / "DONE").is_file():
        shutil.rmtree(base, ignore_errors=True)
        program.mkdir(parents=True)
        harness.mkdir()
        with open(base / "build.log", "w") as log:
            try:
                compile_scala(scala + java, program, jars, log)
                if java:
                    subprocess.run(["javac", "-nowarn", "-d", str(program), "-cp",
                                    f"{program}:{jars}"] + [str(f) for f in java],
                                   check=True, stdout=log, stderr=subprocess.STDOUT)
                compile_scala(own, harness, f"{program}:{jars}", log)
            except subprocess.CalledProcessError:
                log.flush()
                sys.stderr.write((base / "build.log").read_text()[-4000:])
                raise SystemExit("build: compilation failed")
        (base / "DONE").write_text("ok\n")
    cp = [str(harness), str(program)]
    if resources.is_dir():
        cp.append(str(resources))
    return cp + [jars]


if __name__ == "__main__":
    print(":".join(build(Path.cwd())))
