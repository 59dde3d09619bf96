"""Throwaway PostgreSQL 15 cluster for the load workloads.

The server refuses to run as root, so `initdb` and `pg_ctl` run as the
`postgres` user through `su`, as the repository's live sink spec does. The
cluster lives inside the checkout when the `postgres` user can reach it and
in a private directory of the system's temporary directory when it cannot
(a checkout inside a home directory closed to other users); either way it is
removed when the run ends.

Flush policy, identical for every commit measured: `fsync=off` and
`synchronous_commit=off`, so a commit never waits on the disk and rows/s
measure the protocol and executor path, not the host's storage. Autovacuum is
off and `max_wal_size` is large, so no background pass or checkpoint lands
inside a timed load. The server listens on 127.0.0.1 only, on a free port.
"""
import os
import shutil
import socket
import subprocess
import tempfile
import time

SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "autovacuum": "off",
    "max_wal_size": "4GB",
    "wal_init_zero": "off",
    "checkpoint_timeout": "1h",
    "max_connections": "20",
    "shared_buffers": "128MB",
    "listen_addresses": "'127.0.0.1'",
    "unix_socket_directories": "''",
}


def _su(cmd, log):
    return subprocess.run(["su", "postgres", "-s", "/bin/bash", "-c", cmd],
                          stdout=log, stderr=subprocess.STDOUT, cwd="/").returncode


def _postgres_can_use(path):
    return subprocess.run(["su", "postgres", "-s", "/bin/bash", "-c", f"test -w '{path}' -a -x '{path}'"],
                          stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Cluster:
    def __init__(self, work_dir):
        for tool in ("initdb", "pg_ctl", "psql", "su"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found: the load workloads need a PostgreSQL 15 server")
        os.makedirs(work_dir, exist_ok=True)
        os.chmod(work_dir, 0o777)
        parent = work_dir if _postgres_can_use(work_dir) else None
        self.root = tempfile.mkdtemp(prefix="perfbench-pg-", dir=parent)
        self.data = os.path.join(self.root, "data")
        self.log_path = os.path.join(self.root, "setup.log")
        self.port = _free_port()
        self.started = False

    def start(self):
        subprocess.run(["chown", "postgres:postgres", self.root], check=True)
        with open(self.log_path, "w") as log:
            if _su(f"initdb -D {self.data} -A trust -U postgres --no-sync", log) != 0:
                raise RuntimeError(f"initdb failed, see {self.log_path}")
            with open(os.path.join(self.root, "data", "postgresql.auto.conf"), "a") as conf:
                conf.writelines(f"{k} = {v}\n" for k, v in SETTINGS.items())
            opts = f"-p {self.port}"
            if _su(f"pg_ctl -D {self.data} -o '{opts}' -w -t 60 -l {self.root}/server.log start", log) != 0:
                raise RuntimeError(f"pg_ctl start failed, see {self.root}/server.log")
        self.started = True
        deadline = time.time() + 30
        while self.psql("SELECT 1").returncode != 0:
            if time.time() > deadline:
                raise RuntimeError("server did not accept connections")
            time.sleep(0.1)

    def psql(self, sql):
        return subprocess.run(["psql", "-X", "-q", "-h", "127.0.0.1", "-p", str(self.port),
                               "-U", "postgres", "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-c", sql],
                              stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)

    def stop(self):
        if self.started:
            with open(os.devnull, "w") as log:
                _su(f"pg_ctl -D {self.data} -m immediate -w stop", log)
            self.started = False
        shutil.rmtree(self.root, ignore_errors=True)
