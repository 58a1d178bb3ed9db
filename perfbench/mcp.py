"""Closed-loop MCP stdio client: one process, one request in flight."""
import json
import subprocess
import time


# every process started through `start`, so the caller can stop them all
PROCESSES = []


def start(argv, **kwargs):
    proc = subprocess.Popen(argv, **kwargs)
    PROCESSES.append(proc)
    return proc


class McpError(Exception):
    pass


class McpClient:
    def __init__(self, argv, env, cwd, stderr):
        self.t_launch = time.perf_counter()
        self.proc = start(argv, env=env, cwd=cwd, stdin=subprocess.PIPE,
                          stdout=subprocess.PIPE, stderr=stderr)
        self.next_id = 0
        self.last_bytes = 0

    def request(self, method, params=None):
        self.next_id += 1
        msg = {"jsonrpc": "2.0", "id": self.next_id, "method": method}
        if params is not None:
            msg["params"] = params
        self._send(msg)
        line = self.proc.stdout.readline()
        if not line:
            raise McpError(f"server closed the stream (exit {self.proc.poll()})")
        self.last_bytes = len(line)
        resp = json.loads(line)
        if resp.get("id") != self.next_id:
            raise McpError(f"response id {resp.get('id')} != request id {self.next_id}")
        if "error" in resp:
            raise McpError(f"JSON-RPC error {resp['error']}")
        return resp["result"]

    def notify(self, method, params=None):
        msg = {"jsonrpc": "2.0", "method": method}
        if params is not None:
            msg["params"] = params
        self._send(msg)

    def _send(self, msg):
        self.proc.stdin.write((json.dumps(msg) + "\n").encode("utf-8"))
        self.proc.stdin.flush()

    def initialize(self):
        self.request("initialize", {"protocolVersion": "2025-03-26", "capabilities": {},
                                    "clientInfo": {"name": "perfbench", "version": "1"}})
        self.notify("notifications/initialized")

    def call(self, name, arguments):
        """`tools/call`; returns structuredContent, raises on isError."""
        result = self.request("tools/call", {"name": name, "arguments": arguments})
        if result.get("isError"):
            raise McpError(f"{name}: {result['content'][0]['text'][:300]}")
        return result["structuredContent"]

    def close(self, timeout=60):
        """Close stdin (the server's cue to exit) and wait for the process."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
