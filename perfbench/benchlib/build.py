"""Build the program and the harness from source, once per source state.

The harness build (perfbench/jvm) depends on the program build (the
repository root), so one `sbt compile` there compiles both. A stamp over
every input of the build decides whether to rebuild; the runtime classpath
is the two class directories plus the program's unmanaged jar directory
(`unmanagedBase` in the root build.sbt), on which the Spark jars ship.
"""
import hashlib
import os
import re
import subprocess
from pathlib import Path

STAMP_DIR = ".bench_build"


class BuildError(RuntimeError):
    pass


def _sources(root: Path):
    bench = root / "perfbench" / "jvm"
    files = [root / "build.sbt", root / "project" / "build.properties",
             bench / "build.sbt", bench / "project" / "build.properties"]
    for base in (root / "src" / "main", bench / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in _sources(root):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes() if f.exists() else b"<missing>")
    return h.hexdigest()


def jar_dir(root: Path) -> Path:
    """The program's unmanaged jar directory, as its build.sbt declares it."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m:
        return Path(m.group(1))
    return Path(os.environ.get("SPARK_HOME", "")) / "jars"


def classpath(root: Path) -> str:
    return os.pathsep.join([
        str(root / "target" / "scala-2.13" / "classes"),
        str(root / "perfbench" / "jvm" / "target" / "scala-2.13" / "classes"),
        str(jar_dir(root) / "*"),
    ])


def java_options(root: Path):
    """The --add-opens flags the program's build.sbt passes to its JVMs."""
    text = (root / "build.sbt").read_text()
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    if not block:
        raise BuildError("build.sbt: jdk17AddOpens not found")
    opens = re.findall(r'"([^"]+)"', block.group(1))
    return [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


# a fixed young generation: with G1 sizing it, the peak RSS of ten suite runs
# spread by a third of its median, with it by under a tenth (BENCH.md)
YOUNG_GEN = "-Xmn1g"


def jvm_memory(root: Path):
    """The heap the program's build.sbt gives its JVMs (-Xmx, by default
    from SPARK_DRIVER_MEM), with -Xms pinned to the same size and a fixed
    young generation."""
    text = (root / "build.sbt").read_text()
    m = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("(\w+)",\s*"([^"]+)"\)\}', text)
    if not m:
        raise BuildError("build.sbt: -Xmx setting not found")
    size = os.environ.get(m.group(1), m.group(2))
    return [f"-Xms{size}", f"-Xmx{size}", YOUNG_GEN]


def sbt_env():
    """The environment for sbt: offline, whatever the caller's shell set.
    The build resolves only from local caches and must never reach out."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(root: Path, log):
    """Compile if the sources changed since the last build.
    Returns (classpath, whether this call built)."""
    if not (root / "build.sbt").is_file() or not (root / "src" / "main").is_dir():
        raise BuildError("the program's sources (build.sbt, src/main) are not in this checkout")
    stamp = root / STAMP_DIR / "stamp"
    digest = source_digest(root)
    if stamp.is_file() and stamp.read_text() == digest:
        return classpath(root), False
    log("building program and harness with sbt (first run in this checkout)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=root / "perfbench" / "jvm", env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True, timeout=840)
    if proc.returncode != 0:
        tail = "\n".join(proc.stdout.splitlines()[-30:])
        raise BuildError(f"sbt compile failed:\n{tail}")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(digest)
    return classpath(root), True
