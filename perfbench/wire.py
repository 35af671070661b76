"""Client side of the TSQL wire protocol (graft.protocol.Wire).

Request: ``$<len>\\r\\n<query>\\r\\n``. Responses: ``$``/``!`` strings,
``#<n>`` arrays of ``:<ts>\\r\\n;<value>\\r\\n`` records, and ``~<n>``
stream chunks closed by a ``~0\\r\\n`` terminator, which may arrive on
its own after the last chunk. Record values are kept as the exact text
the server sent, so results compare byte for byte.
"""
import socket

CRLF = b"\r\n"
MAX_QUERY = 512


class Incomplete(Exception):
    """The buffer ends inside a message; read more bytes."""


class Str:
    def __init__(self, ok, message):
        self.ok, self.message = ok, message

    def __repr__(self):
        return f"Str(ok={self.ok}, {self.message!r})"


class Records:
    """An array (``chunks == 0``) or a whole stream (``chunks >= 1``)."""

    def __init__(self, records, chunks=0):
        self.records, self.chunks = records, chunks

    def __repr__(self):
        return f"Records({len(self.records)} records, chunks={self.chunks})"


def encode_request(query):
    body = query.encode()
    if len(body) >= MAX_QUERY:
        raise ValueError(f"query of {len(body)} bytes exceeds the {MAX_QUERY}-byte frame")
    return b"$%d\r\n%s\r\n" % (len(body), body)


def _line(buf, pos):
    end = buf.find(CRLF, pos)
    if end < 0:
        raise Incomplete
    return bytes(buf[pos:end]), end + 2


def _count(text, what):
    if not text.isdigit():
        raise ValueError(f"bad {what} {text!r}")
    return int(text)


def _records(buf, pos, n):
    out = []
    for _ in range(n):
        if pos >= len(buf):
            raise Incomplete
        if buf[pos:pos + 1] != b":":
            raise ValueError(f"record must start with ':' at {pos}")
        ts, pos = _line(buf, pos + 1)
        if pos >= len(buf):
            raise Incomplete
        if buf[pos:pos + 1] != b";":
            raise ValueError(f"value must start with ';' at {pos}")
        value, pos = _line(buf, pos + 1)
        out.append((int(ts), value.decode()))
    return out, pos


def decode(buf, pos=0):
    """Decodes one whole response starting at ``pos``.

    Returns ``(response, next_pos)``; raises Incomplete when more bytes
    are needed. A stream is gathered chunk by chunk up to its terminator.
    """
    if pos >= len(buf):
        raise Incomplete
    marker = buf[pos:pos + 1]
    if marker in (b"$", b"!"):
        n, p = _line(buf, pos + 1)
        n = _count(n.decode(), "string length")
        if len(buf) < p + n + 2:
            raise Incomplete
        if buf[p + n:p + n + 2] != CRLF:
            raise ValueError("string response without trailing CRLF")
        return Str(marker == b"$", bytes(buf[p:p + n]).decode()), p + n + 2
    if marker == b"#":
        n, p = _line(buf, pos + 1)
        recs, p = _records(buf, p, _count(n.decode(), "array length"))
        return Records(recs), p
    if marker == b"~":
        recs, chunks, p = [], 0, pos
        while True:
            if p >= len(buf):
                raise Incomplete
            if buf[p:p + 1] != b"~":
                raise ValueError(f"expected a stream chunk at {p}")
            n, q = _line(buf, p + 1)
            n = _count(n.decode(), "chunk length")
            if n == 0:
                if len(buf) < q + 2 and len(buf) > q:
                    raise Incomplete
                if buf[q:q + 2] != CRLF:  # standalone terminator
                    return Records(recs, chunks), q
            got, q = _records(buf, q, n)
            if len(buf) < q + 2:
                raise Incomplete
            if buf[q:q + 2] != CRLF:
                raise ValueError("stream chunk without its blank line")
            recs.extend(got)
            chunks += 1
            p = q + 2
    raise ValueError(f"unknown response marker {marker!r}")


class Conn:
    """One blocking client connection; ``request`` sends a statement and
    returns its decoded response and its size in bytes."""

    def __init__(self, port, timeout=120.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()

    def request(self, query):
        self.sock.sendall(encode_request(query))
        while True:
            try:
                resp, used = decode(self.buf)
            except Incomplete:
                data = self.sock.recv(1 << 16)
                if not data:
                    raise ConnectionError("server closed the connection")
                self.buf += data
                continue
            del self.buf[:used]
            return resp, used

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass
