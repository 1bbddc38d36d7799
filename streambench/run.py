#!/usr/bin/env python3
"""Run one benchmark workload; see streambench/README.md.

    python3 streambench/run.py --workload sessions_live --seed 1 --seconds 8 --trace 0

Builds first if needed (streambench/build.py), then runs the workload in a
JVM. The last line of standard output is the result JSON. Exits non-zero,
without a result, when the build or the run fails.
"""
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main(argv):
    if "--workload" not in argv[:-1]:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        cp = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.HERE, ".work", "run-%d" % os.getpid())
    # Class-data sharing: the first untraced run of the live workload, the
    # shortest run, writes an archive of the classes it loaded (as it
    # exits, after its result), and every later run maps it, so the JVM and
    # Spark start in about half the time. JVM warnings go to stderr, so
    # that the result stays the last line of stdout; those of the archive
    # (classes it cannot hold) are left out.
    def arg(name):
        return argv[argv.index(name) + 1] if name in argv[:-1] else None

    jsa = build.archive()
    dump = None
    if os.path.exists(jsa):
        cds = ["-XX:SharedArchiveFile=" + jsa]
    elif arg("--workload") == "sessions_live" and arg("--trace") == "0":
        dump = jsa + ".tmp"
        cds = ["-XX:ArchiveClassesAtExit=" + dump]
    else:
        cds = []
    cmd = ([build.java(), "-Xlog:disable", "-Xlog:all=warning,cds*=off:stderr"] + cds +
           ["-Xmx3g", "-Xms3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
           build.JVM_OPENS + ["-cp", os.pathsep.join(cp), "streambench.Bench"] +
           argv + ["--work", work])
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)

    def stop(*_):
        # the JVM and the live generator it starts share one process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        rc = 3
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if dump and rc == 0 and os.path.exists(dump):
        os.replace(dump, jsa)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
