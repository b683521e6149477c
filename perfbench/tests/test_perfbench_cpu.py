import os
import subprocess
import sys
import time

import run

# Burns 1 s of CPU, then sleeps: a stand-in for a Python worker.
_SPIN = (
    "import time\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < 1.0:\n"
    "    pass\n"
    "time.sleep(60)\n"
)


def test_cpu_meter_counts_the_jvms_child_processes():
    # a stand-in for the JVM, whose child does the work
    jvm = subprocess.Popen([
        sys.executable, "-c",
        "import subprocess, sys, time\n"
        f"subprocess.Popen([sys.executable, '-c', {_SPIN!r}])\n"
        "time.sleep(60)\n",
    ])
    try:
        meter = run.CpuMeter(jvm.pid)
        work0, _ = meter.read()
        deadline = time.monotonic() + 10
        while meter.read()[0] - work0 < 0.3 and time.monotonic() < deadline:
            time.sleep(0.1)
        work, jit = meter.read()
        assert work - work0 >= 0.3
        assert jit == 0  # no JIT compiler threads in a Python process
    finally:
        for p in run._descendants(jvm.pid):
            os.kill(p, 9)
        jvm.kill()
        jvm.wait()
