import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRIPT = """
import subprocess, sys
from perfbench import run
run.become_subreaper()
# the shell exits at once; its background sleeps are orphaned to us
out = subprocess.run(["sh", "-c", "sleep 1 >/dev/null 2>&1 & echo $!; "
                      "sleep 60 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True, check=True).stdout
print(out.split()[0], out.split()[1], flush=True)
run.reap_descendants(grace=2.0)
"""


def test_reap_waits_for_and_kills_orphaned_grandchildren():
    proc = subprocess.run([sys.executable, "-c", SCRIPT], cwd=ROOT,
                          capture_output=True, text=True, timeout=30)
    assert proc.returncode == 0, proc.stderr
    for pid in proc.stdout.split():
        assert not os.path.exists(f"/proc/{pid}")
