import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydoxtools_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pydoxtools-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def lzw_bomb():
    """A 35 KB LZW code stream (EarlyChange 1, the PDF/TIFF dialect)
    that decodes to 84 MB: one KwKwK chain of a zero byte up to code
    4095 (code k stands for k-256 zeros), then 20,000 repeats of code
    4095.  Packed code by code with the decoder's width schedule:
    pdfparse._lzw_encode would have to compress all 84 MB."""
    codes = [256, 0, *range(258, 4096), *[4095] * 20_000, 257]
    out = bytearray()
    acc = nbits = 0
    width, next_code, prev = 9, 258, False
    for code in codes:
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1
        if code == 256:  # the leading clear: table and width start over
            continue
        if prev and next_code < 4096:
            next_code += 1
        prev = True
        if next_code >= (1 << width) - 1 and width < 12:
            width += 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)
