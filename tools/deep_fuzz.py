"""Multi-seed mutation-fuzz sweep over every front-door battery.

The CI battery (tests/test_fuzz_frontdoors.py) runs one pinned seed;
this tool sweeps N extra seeds with per-mutant alarm timeouts so
HANGS surface as findings instead of stalling the run.  Round-12
provenance: the 4-seed sweep found a JPEG entropy-reader infinite
loop plus five exception escapes the single-seed battery missed; the
6-seed confirmation pass (16,859 mutants, 23 format families)
finished clean.

Usage: python tools/deep_fuzz.py [n_seeds] [n_each] [timeout_sec]
"""

from __future__ import annotations

import inspect
import os
import signal
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


class Hang(Exception):
    pass


def main() -> int:
    import test_fuzz_frontdoors as T

    # default widened 6 -> 8 seeds in r15: two real defects (a tiff
    # declared-width HANG, an mhtml charset-NUL escape) sat just past
    # the 6-seed horizon — widen SEEDS, not only mutants-per-seed
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_each = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    fails: list[tuple] = []
    total = 0
    signal.signal(signal.SIGALRM,
                  lambda s, f: (_ for _ in ()).throw(Hang()))

    for name in sorted(dir(T)):
        if not name.startswith("test_fuzz_"):
            continue
        fn = getattr(T, name)
        if "spark" in inspect.signature(fn).parameters:
            continue  # operator-level tests need a session; skip
        orig = T._battery

        def deep(encode, decode, allowed, seed=7):
            nonlocal total
            payload = encode()
            decode(payload)
            for s in range(1, n_seeds + 1):
                for i, mut in enumerate(
                        T._mutants(payload, seed=s, n_each=n_each)):
                    total += 1
                    signal.alarm(budget)
                    try:
                        decode(mut)
                    except allowed:
                        pass
                    except Hang:
                        fails.append((name, s, i, "HANG", ""))
                    except Exception as e:  # noqa: BLE001 — the point
                        fails.append((name, s, i,
                                      type(e).__name__, str(e)[:100]))
                    finally:
                        signal.alarm(0)

        T._battery = deep
        try:
            fn()
        except Exception as e:  # noqa: BLE001
            fails.append((name, "-", "-", "TESTERR", str(e)[:120]))
        finally:
            T._battery = orig
        print("done", name, flush=True)

    print(f"total mutants: {total}")
    print(f"escapes: {len(fails)}")
    for f in fails[:40]:
        print(f)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
