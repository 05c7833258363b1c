"""Load generator for `lambda_serve`: one process that publishes seeded
sensor readings over MQTT 3.1.1 at a fixed rate and sends HTTP requests on
a fixed open-loop schedule.

It runs at most nproc threads and holds at most nproc connections: one
thread publishes, the main thread dispatches HTTP requests when they fall
due, one worker serves the `/` schedule and the rest serve `/stress`.
Every event is timed from its due time, and the generator's own lateness
(actual send minus due) is written next to it, so a late generator can be
told apart from a slow system.

Commands arrive as one JSON object per stdin line; each gets one JSON
reply line on stdout. Files it writes:
  sent file      `offset send_ms sensor value_hex anomaly`, one per reading,
                 offset being the reading's position in the broker topic
  requests file  `route due_ms start_ms end_ms ok`, one per request
"""
import http.client
import json
import os
import queue
import random
import socket
import struct
import sys
import threading
import time

TOPIC = b"sensors/power"


def now_ms():
    return time.time() * 1000.0


def mqtt_packet(ptype, body, flags=0):
    out = bytearray([(ptype << 4) | flags])
    n = len(body)
    while True:
        d = n % 128
        n //= 128
        out.append(d | (0x80 if n else 0))
        if not n:
            break
    return bytes(out) + body


def mqtt_str(b):
    return struct.pack(">H", len(b)) + b


def publish_packet(sensor, value, anomaly):
    s = sensor.encode()
    payload = struct.pack(">i", len(s)) + s + struct.pack(">di", value, anomaly)
    return mqtt_packet(3, mqtt_str(TOPIC) + payload)


class Mqtt:
    """QoS-0 publisher over one TCP connection."""

    def __init__(self, port):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        body = mqtt_str(b"MQTT") + bytes([4, 0x02, 0, 60]) + mqtt_str(b"perfbench-gen")
        self.sock.sendall(mqtt_packet(1, body))
        ack = self._read(4)
        if ack[0] >> 4 != 2 or ack[3] != 0:
            raise RuntimeError(f"CONNECT refused: {ack!r}")

    def _read(self, n):
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise RuntimeError("broker closed the connection")
            buf += chunk
        return buf

    def send(self, data):
        self.sock.sendall(data)

    def close(self):
        try:
            self.sock.sendall(mqtt_packet(14, b""))
        finally:
            self.sock.close()


class Readings:
    """Seeded readings: sensor i of n in turn; the anomalous sensors have
    anomaly episodes, the others never do. An anomalous sensor's readings
    come in blocks of BLOCK, each with round(rate * BLOCK) anomalies at
    seeded places, so every seed gives every anomalous sensor the same
    share of anomalies over any stretch of its readings."""

    BLOCK = 25

    def __init__(self, seed, tag, sensors, anomalous, rate):
        self.rng = random.Random(f"{seed}:{tag}")
        self.sensors = sensors
        self.per_block = round(rate * self.BLOCK)
        self.pending = {s: [] for s in anomalous}
        self.i = 0

    def next(self):
        s = self.sensors[self.i % len(self.sensors)]
        self.i += 1
        a = 0
        if s in self.pending:
            block = self.pending[s]
            if not block:
                block += [1] * self.per_block + [0] * (self.BLOCK - self.per_block)
                self.rng.shuffle(block)
            a = block.pop()
        v = self.rng.gauss(40.0 if a else 10.0, 5.0)
        return s, v, a


class Round:
    """One pipeline instance's topic: offsets count from 0 per round.
    Readings go out from a publisher thread at a fixed rate until stopped."""

    def __init__(self, port, sent_path, readings):
        self.mqtt = Mqtt(port)
        self.sent = open(sent_path, "w")
        self.readings = readings
        self.offset = 0
        self.late = []
        self.stopping = threading.Event()
        self.thread = None
        self.error = None

    def publish(self, batch):
        """Sends readings in one write; returns the send stamp."""
        self.mqtt.send(b"".join(publish_packet(*r) for r in batch))
        t = now_ms()
        for s, v, a in batch:
            self.sent.write(f"{self.offset} {t:.3f} {s} {v.hex()} {a}\n")
            self.offset += 1
        return t

    def start(self, rate):
        """Publishes at `rate` readings/s from now until stop(); each
        reading's lateness (send minus due) is kept."""
        self.stopping.clear()

        def run():
            try:
                t0 = now_ms()
                period = 1000.0 / rate
                i = 0
                while not self.stopping.is_set():
                    due = t0 + i * period
                    wait = (due - now_ms()) / 1000.0
                    if wait > 0:
                        time.sleep(wait)
                    t = now_ms()
                    n = max(1, int((t - due) / period) + 1)
                    sent = self.publish([self.readings.next() for _ in range(n)])
                    self.late.extend((sent, sent - (due + k * period)) for k in range(n))
                    i += n
            except Exception as e:  # reported by stop()
                self.error = repr(e)
        self.thread = threading.Thread(target=run, daemon=True)
        self.thread.start()

    def stop(self):
        if self.thread is not None:
            self.stopping.set()
            self.thread.join()
            self.thread = None
        self.sent.flush()
        if self.error:
            raise RuntimeError(f"publisher failed: {self.error}")

    def close(self):
        if self.sent.closed:
            return
        self.stop()
        self.sent.close()
        try:
            self.mqtt.close()
        except OSError:
            pass  # the pipeline may already have closed its broker


def http_worker(port, jobs, results, sensors):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    while True:
        job = jobs.get()
        if job is None:
            break
        route, due = job
        start = now_ms()
        ok = 0
        try:
            conn.request("GET", route)
            resp = conn.getresponse()
            body = resp.read()
            names = {e["name"] for e in json.loads(body)["entries"]}
            ok = int(resp.status == 200 and names == sensors)
        except Exception:
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        results.append((route, due, start, now_ms(), ok))
    conn.close()


def live(rnd, c, threads):
    """Open-loop HTTP beside the running publisher for c["warmup"]
    seconds and then for the timed window of c["seconds"]: `/stress` at
    c["stress_rate"]/s and `/` at c["full_rate"]/s, each request timed
    from its due time. The publisher stops when the window ends. Returns
    the window's bounds and the generator's lateness inside it."""
    sensors = set(c["sensors"])
    results = []
    stress_q, full_q = queue.Queue(), queue.Queue()
    workers = [threading.Thread(target=http_worker, args=(c["http"], full_q, results, sensors),
                                daemon=True)]
    workers += [threading.Thread(target=http_worker, args=(c["http"], stress_q, results, sensors),
                                 daemon=True) for _ in range(max(1, threads - 3))]
    for w in workers:
        w.start()
    first = now_ms() + 20.0
    t0 = first + c["warmup"] * 1000.0
    end = t0 + c["seconds"] * 1000.0
    span = c["warmup"] + c["seconds"]
    schedule = sorted(
        [(first + i * 1000.0 / c["stress_rate"], "/stress", stress_q)
         for i in range(int(span * c["stress_rate"]))] +
        [(first + (i + 0.5) * 1000.0 / c["full_rate"], "/", full_q)
         for i in range(int(span * c["full_rate"]))])
    for due, route, q in schedule:
        wait = (due - now_ms()) / 1000.0
        if wait > 0:
            time.sleep(wait)
        q.put((route, due))
    wait = (end - now_ms()) / 1000.0
    if wait > 0:
        time.sleep(wait)
    rnd.stop()  # no reading is sent after the window
    for _ in workers:
        stress_q.put(None)
        full_q.put(None)
    for w in workers:
        w.join()
    with open(c["requests"], "w") as f:
        for route, due, start, stop, ok in results:
            f.write(f"{route} {due:.3f} {start:.3f} {stop:.3f} {ok}\n")
    late = [l for t, l in rnd.late if t0 <= t <= end] + \
        [start - due for _, due, start, _, _ in results if due >= t0]
    return {"late_ms": sorted(late), "start_ms": t0, "end_ms": end}


def main():
    threads = max(4, len(os.sched_getaffinity(0)))
    rnd = None
    for line in sys.stdin:
        c = json.loads(line)
        reply = {"ok": True}
        cmd = c["cmd"]
        if cmd == "quit":
            break
        if cmd == "round":
            if rnd is not None:
                rnd.close()
            rnd = Round(c["port"], c["sent"], Readings(
                c["seed"], c["tag"], c["sensors"], c["anomalous"], c["anomaly_rate"]))
        elif cmd == "start":
            rnd.start(c["rate"])
        elif cmd == "hold":
            while rnd.offset < c["offset"] and rnd.thread is not None and rnd.thread.is_alive():
                time.sleep(0.005)
            rnd.stop()
        elif cmd == "live":
            reply.update(live(rnd, c, threads))
        elif cmd == "stop":
            rnd.stop()
        elif cmd == "close":
            rnd.close()
        reply["sent"] = rnd.offset if rnd else 0
        print(json.dumps(reply), flush=True)
    if rnd is not None:
        rnd.close()


if __name__ == "__main__":
    main()
