"""Pure-stdlib PDF text extraction (no pypdf needed).

PDF is a public ISO standard (ISO 32000). This codec implements the
subset needed to extract text from straightforward, non-encrypted PDFs
— the kind produced by report generators and office exporters:

- object discovery by scanning ``N G obj … endobj`` (no reliance on the
  xref table, which tolerates mildly damaged files), then expanding any
  PDF 1.5 compressed object streams (``/Type /ObjStm``, the layout the
  majority of modern generators emit): each stream's ``/N`` pair table
  is parsed and its embedded objects join the object map;
- page order via the /Root → /Pages → /Kids tree walk;
- content streams: raw or /FlateDecode (zlib);
- text operators inside BT…ET: Tj, ' , " (show string), TJ (array
  show), with Td/TD/T* treated as line breaks;
- literal strings with escapes/nested parens and hex strings;
- composite/CID fonts via /ToUnicode CMaps (bfchar, scalar and array
  bfrange, codespace width; ISO 32000 §9.10.3): Tf tracks the active
  font per page (resources inherited down the /Pages tree) and shown
  strings decode through its CMap — unmapped codes are dropped, fonts
  without /ToUnicode fall back to Latin-1 (never wrong text).

The tool layer (pdf_tool._extract_kernel) prefers pypdf when installed;
this codec turns the ``mode='real'`` path from a NotImplementedError
seam into working extraction for the common case.
"""

from __future__ import annotations

import re
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")


def _objects(content: bytes) -> dict[int, bytes]:
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(content)}
    _expand_object_streams(objs)
    return objs


def _expand_object_streams(objs: dict[int, bytes]) -> None:
    """Inline the objects packed in PDF 1.5 compressed object streams.

    An ``/Type /ObjStm`` stream holds ``/N`` objects: the first
    ``/First`` bytes are N (objnum, offset) integer pairs, the rest the
    concatenated object bodies (never streams, per spec).  Top-level
    objects win on number collision — an incremental update writes the
    replacement at top level."""
    for body in list(objs.values()):
        d = _dict_part(body)
        if not re.search(rb"/Type\s*/ObjStm\b", d):
            continue
        data = _stream_data(body)
        mn = re.search(rb"/N\s+(\d+)", d)
        mf = re.search(rb"/First\s+(\d+)", d)
        if data is None or mn is None or mf is None:
            continue
        n, first = int(mn.group(1)), int(mf.group(1))
        header = data[:first].split()
        if len(header) < 2 * n:
            continue
        try:
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1]))
                for i in range(n)
            ]
        except ValueError:
            continue
        for i, (num, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(data) - first
            objs.setdefault(num, data[first + off:first + end])


def _dict_part(body: bytes) -> bytes:
    i = body.find(b"stream")
    return body if i < 0 else body[:i]


def _stream_data(body: bytes) -> bytes | None:
    m = _STREAM_RE.search(body)
    if m is None:
        return None
    data = m.group(1)
    if b"/FlateDecode" in _dict_part(body):
        try:
            return zlib.decompress(data)
        except zlib.error:
            return None
    if b"/Filter" in _dict_part(body):
        return None  # unsupported filter (DCT, LZW, ...)
    return data


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Walk /Root -> /Pages -> /Kids for document page order; fall back
    to object-number order over /Type /Page objects."""
    pages_root = None
    for body in objs.values():
        d = _dict_part(body)
        if b"/Catalog" in d:
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", d)
            if m:
                pages_root = int(m.group(1))
                break

    ordered: list[int] = []

    def walk(num: int) -> None:
        body = objs.get(num)
        if body is None:
            return
        d = _dict_part(body)
        if re.search(rb"/Type\s*/Page\b(?!s)", d):
            ordered.append(num)
            return
        m = re.search(rb"/Kids\s*\[(.*?)\]", d, re.DOTALL)
        if m:
            for ref in _REF_RE.finditer(m.group(1)):
                walk(int(ref.group(1)))

    if pages_root is not None:
        walk(pages_root)
    if not ordered:
        ordered = sorted(
            n for n, b in objs.items()
            if re.search(rb"/Type\s*/Page\b(?!s)", _dict_part(b))
        )
    return ordered


def _content_streams(page_body: bytes, objs: dict[int, bytes]) -> bytes:
    d = _dict_part(page_body)
    m = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", d)
    refs: list[int] = []
    if m:
        refs = [int(m.group(1))]
    else:
        m = re.search(rb"/Contents\s*\[(.*?)\]", d, re.DOTALL)
        if m:
            refs = [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
    out = b""
    for r in refs:
        body = objs.get(r)
        if body is None:
            continue
        data = _stream_data(body)
        if data:
            out += data + b"\n"
    return out


# ---- ToUnicode CMaps (CID / composite fonts) -------------------------------

_HEX_TOKEN = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16_units(hex_dst: bytes) -> list[int]:
    h = hex_dst.decode("ascii")
    if len(h) % 4:
        h = h.zfill((len(h) // 4 + 1) * 4)
    return [int(h[i:i + 4], 16) for i in range(0, len(h), 4)]


def _units_to_str(units: list[int]) -> str:
    try:
        return b"".join(u.to_bytes(2, "big") for u in units).decode(
            "utf-16-be", errors="ignore"
        )
    except (OverflowError, ValueError):
        return ""


def parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """Parse a /ToUnicode CMap stream into (code_byte_width, code→str).

    Handles ``bfchar`` pairs, ``bfrange`` with scalar destination
    (last UTF-16 unit incremented across the range, per ISO 32000
    §9.10.3) and ``bfrange`` with an explicit destination array; the
    code width comes from the first ``codespacerange`` entry (2 bytes
    for virtually every real Type0/CID font)."""
    width = 2
    m = re.search(
        rb"begincodespacerange(.*?)endcodespacerange", data, re.DOTALL
    )
    if m:
        first = _HEX_TOKEN.search(m.group(1))
        if first:
            width = max(1, len(first.group(1)) // 2)
    cmap: dict[int, str] = {}
    for block in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        toks = _HEX_TOKEN.findall(block.group(1))
        for i in range(0, len(toks) - 1, 2):
            cmap[int(toks[i], 16)] = _units_to_str(_utf16_units(toks[i + 1]))
    for block in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        body = block.group(1)
        i = 0
        n = len(body)
        while i < n:
            lo_m = _HEX_TOKEN.search(body, i)
            if lo_m is None:
                break
            hi_m = _HEX_TOKEN.search(body, lo_m.end())
            if hi_m is None:
                break
            lo, hi = int(lo_m.group(1), 16), int(hi_m.group(1), 16)
            j = hi_m.end()
            while j < n and body[j] in b" \r\n\t":
                j += 1
            if j < n and body[j] == 91:  # [ <d1> <d2> ... ]
                close = body.find(b"]", j)
                if close < 0:
                    break
                dsts = _HEX_TOKEN.findall(body[j:close])
                for k, d in enumerate(dsts):
                    if lo + k > hi:
                        break
                    cmap[lo + k] = _units_to_str(_utf16_units(d))
                i = close + 1
            else:
                d_m = _HEX_TOKEN.search(body, j)
                if d_m is None:
                    break
                units = _utf16_units(d_m.group(1))
                for c in range(lo, min(hi, lo + 65535) + 1):
                    u = list(units)
                    u[-1] = units[-1] + (c - lo)
                    cmap[c] = _units_to_str(u)
                i = d_m.end()
    return width, cmap


def _resolve_dict_value(d: bytes, key: bytes, objs: dict[int, bytes]):
    """Value of ``/key`` in dict bytes ``d``: indirect ref → the object's
    dict part; inline ``<< ... >>`` → the balanced slice; else None."""
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", d)
    if m:
        body = objs.get(int(m.group(1)))
        return None if body is None else _dict_part(body)
    m = re.search(rb"/" + key + rb"\s*<<", d)
    if m is None:
        return None
    i = m.end() - 2
    depth = 0
    j = i
    while j + 1 < len(d):
        if d[j] == 60 and d[j + 1] == 60:
            depth += 1
            j += 2
        elif d[j] == 62 and d[j + 1] == 62:
            depth -= 1
            j += 2
            if depth == 0:
                return d[i:j]
        else:
            j += 1
    return None


def _page_fonts(
    page_num: int, objs: dict[int, bytes]
) -> dict[bytes, tuple[int, dict[int, str]]]:
    """Per-page font-name → ToUnicode CMap, following the /Parent chain
    for inherited /Resources (ISO 32000 §7.7.3.4). Fonts without a
    parseable /ToUnicode are simply absent (shown strings fall back to
    Latin-1)."""
    fonts: dict[bytes, tuple[int, dict[int, str]]] = {}
    seen: set[int] = set()
    num: int | None = page_num
    while num is not None and num not in seen:
        seen.add(num)
        body = objs.get(num)
        if body is None:
            break
        d = _dict_part(body)
        res = _resolve_dict_value(d, b"Resources", objs)
        if res is not None:
            font_dict = _resolve_dict_value(res, b"Font", objs)
            if font_dict is not None:
                for fm in re.finditer(
                    rb"/(\w+)\s+(\d+)\s+\d+\s+R", font_dict
                ):
                    name, ref = fm.group(1), int(fm.group(2))
                    if name in fonts:
                        continue  # nearest (page-level) wins
                    fbody = objs.get(ref)
                    if fbody is None:
                        continue
                    tum = re.search(
                        rb"/ToUnicode\s+(\d+)\s+\d+\s+R", _dict_part(fbody)
                    )
                    if tum is None:
                        continue
                    tbody = objs.get(int(tum.group(1)))
                    if tbody is None:
                        continue
                    data = _stream_data(tbody)
                    if data:
                        fonts[name] = parse_tounicode(data)
        pm = re.search(rb"/Parent\s+(\d+)\s+\d+\s+R", d)
        num = int(pm.group(1)) if pm else None
    return fonts


def _literal_bytes(raw: bytes) -> bytes:
    """PDF literal string body (inside parens) with backslash escapes
    and octal codes resolved — RAW bytes (decoding depends on the
    active font's CMap)."""
    out = bytearray()
    i = 0
    esc = {b"n"[0]: 10, b"r"[0]: 13, b"t"[0]: 9, b"b"[0]: 8, b"f"[0]: 12,
           b"("[0]: 40, b")"[0]: 41, b"\\"[0]: 92}
    while i < len(raw):
        c = raw[i]
        if c == 92 and i + 1 < len(raw):  # backslash
            nxt = raw[i + 1]
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
                continue
            if 48 <= nxt <= 55:  # octal, up to 3 digits
                j = i + 1
                code = 0
                while j < len(raw) and j < i + 4 and 48 <= raw[j] <= 55:
                    code = code * 8 + (raw[j] - 48)
                    j += 1
                out.append(code & 0xFF)
                i = j
                continue
            if nxt in (10, 13):  # line continuation
                i += 2
                continue
            out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    return bytes(out)


def _tokenize_strings(segment: bytes):
    """Yield (kind, value) for string/hex-string/name/operator tokens in
    a content-stream slice. String values are RAW bytes — the caller
    decodes them through the active font's ToUnicode CMap (or Latin-1
    for simple fonts)."""
    i = 0
    n = len(segment)
    while i < n:
        c = segment[i]
        if c == 40:  # ( literal string, nesting + escapes
            depth = 1
            j = i + 1
            buf = bytearray()
            while j < n and depth:
                ch = segment[j]
                if ch == 92 and j + 1 < n:
                    buf += segment[j:j + 2]
                    j += 2
                    continue
                if ch == 40:
                    depth += 1
                elif ch == 41:
                    depth -= 1
                    if depth == 0:
                        break
                buf.append(ch)
                j += 1
            yield ("str", _literal_bytes(bytes(buf)))
            i = j + 1
        elif c == 60 and i + 1 < n and segment[i + 1] == 60:  # << dict >>
            # one token to the matching >> (tagged-PDF marked content,
            # e.g. "<</MCID 0>> BDC"), so its body is never mistaken for
            # a hex string
            depth = 0
            j = i
            while j + 1 < n:
                if segment[j] == 60 and segment[j + 1] == 60:
                    depth += 1
                    j += 2
                elif segment[j] == 62 and segment[j + 1] == 62:
                    depth -= 1
                    j += 2
                    if depth == 0:
                        break
                else:
                    j += 1
            i = j if j > i else n
        elif c == 60:  # <hex>
            j = segment.find(b">", i)
            if j < 0:
                break
            hx = re.sub(rb"\s", b"", segment[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            try:
                yield ("str", bytes.fromhex(hx.decode("ascii")))
            except (ValueError, UnicodeDecodeError):
                pass  # malformed token: drop it, never crash the page
            i = j + 1
        elif c == 47:  # /Name (needed to track Tf font selection)
            m = re.match(rb"/([^\s/<>\[\]()]+)", segment[i:])
            if m:
                yield ("name", m.group(1))
                i += len(m.group(0))
            else:
                i += 1
        else:
            m = re.match(rb"[A-Za-z'\"*]+", segment[i:])
            if m:
                yield ("op", m.group(0))
                i += len(m.group(0))
            else:
                i += 1


def _decode_shown(
    raw: bytes, cmap: tuple[int, dict[int, str]] | None
) -> str:
    """Shown-string bytes → text: through the active font's ToUnicode
    CMap when present (fixed-width codes, unmapped codes dropped), else
    Latin-1 (simple fonts)."""
    if cmap is None:
        return raw.decode("latin-1")
    width, table = cmap
    out: list[str] = []
    for i in range(0, len(raw) - width + 1, width):
        out.append(table.get(int.from_bytes(raw[i:i + width], "big"), ""))
    return "".join(out)


def _extract_text(
    stream: bytes,
    fonts: dict[bytes, tuple[int, dict[int, str]]] | None = None,
) -> str:
    """Text from one page's content stream: show-string operators emit
    text, Td/TD/T*/'/" start new lines; Tf switches the active font
    (and with it the CMap used to decode shown strings)."""
    fonts = fonts or {}
    lines: list[str] = []
    cur: list[str] = []
    pending: list[str] = []  # decoded strings seen since the last operator
    cmap: tuple[int, dict[int, str]] | None = None
    last_name: bytes | None = None

    def newline() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    for bt in re.finditer(rb"BT(.*?)ET", stream, re.DOTALL):
        for kind, val in _tokenize_strings(bt.group(1)):
            if kind == "str":
                pending.append(_decode_shown(val, cmap))
            elif kind == "name":
                last_name = val
            else:
                op = val
                if op == b"Tf" and last_name is not None:
                    cmap = fonts.get(last_name)
                elif op == b"Tj":
                    cur.extend(pending)
                elif op == b"TJ":
                    cur.extend(pending)
                elif op in (b"'", b'"'):
                    newline()
                    cur.extend(pending)
                elif op in (b"Td", b"TD", b"T*"):
                    newline()
                pending.clear()
        newline()
    return "\n".join(lines)


def extract_pages(content: bytes) -> list[str]:
    """Text of every page, in document order. Unsupported structures
    (encrypted files, exotic filters) yield empty page text rather than
    wrong text."""
    objs = _objects(content)
    return [
        _extract_text(
            _content_streams(objs[p], objs), _page_fonts(p, objs)
        )
        for p in _page_order(objs)
    ]
