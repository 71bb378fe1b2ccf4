"""Throwaway PostgreSQL server for the backfill workloads.

initdb + pg_ctl into a directory of the benchmark's work tree, trust auth,
listening on a free localhost TCP port only (no unix socket, whose path
length limit a deep checkout can exceed).  The server binaries refuse to run
as root; as root the benchmark runs them in a user namespace that maps it to
the ``postgres`` user, which (unlike ``su postgres``) keeps the data
directory inside a root-only checkout reachable.  fsync and full-page
writes are off in every run: the workloads measure the load path, and a
shared VM's flush latency would only add noise.  ``PgServer`` is a context
manager: the server stops on every exit path, a failed stage included.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_server_user() -> list[str]:
    if os.getuid() != 0:
        return []
    for name in ("postgres", "nobody"):
        try:
            pw = pwd.getpwnam(name)
        except KeyError:
            continue
        return ["unshare", "--user", f"--map-user={pw.pw_uid}", f"--map-group={pw.pw_gid}"]
    raise RuntimeError("running as root and no postgres/nobody user to map to")


class PgServer:
    def __init__(self, base: str):
        self.base = os.path.abspath(base)
        self.data = os.path.join(self.base, "data")
        self.port = 0
        self.dsn = ""
        self._started = False

    def _run(self, args: list[str]) -> None:
        r = subprocess.run(_as_server_user() + args, capture_output=True, text=True, timeout=60)
        if r.returncode != 0:
            raise RuntimeError(f"{args[0]} failed: {(r.stderr or r.stdout)[-400:]}")

    def __enter__(self) -> "PgServer":
        if shutil.which("initdb") is None or shutil.which("psql") is None:
            raise RuntimeError("postgres server binaries (initdb, pg_ctl, psql) not on PATH")
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        self._run(["initdb", "-D", self.data, "-E", "UTF8", "--no-sync", "-A", "trust", "-U", "postgres"])
        self.port = _free_port()
        opts = f"-p {self.port} -h 127.0.0.1 -k '' -c fsync=off -c full_page_writes=off"
        try:
            self._run(["pg_ctl", "-D", self.data, "-o", opts, "-l", os.path.join(self.base, "pg.log"), "-w", "start"])
        except (RuntimeError, subprocess.TimeoutExpired):
            # a start that failed half-way may still have left a server up
            subprocess.run(_as_server_user() + self._stop_args(), capture_output=True, timeout=60)
            shutil.rmtree(self.base, ignore_errors=True)
            raise
        self._started = True
        self.dsn = f"host=127.0.0.1 port={self.port} dbname=postgres user=postgres"
        return self

    def _stop_args(self) -> list[str]:
        return ["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"]

    def __exit__(self, *exc) -> None:
        try:
            if self._started:
                self._started = False
                self._run(self._stop_args())
        finally:
            shutil.rmtree(self.base, ignore_errors=True)
