#!/usr/bin/env python3
"""Non-blank, non-comment lines of the .scala files under each root.

Usage: python3 scripts/count_lines.py <root> [<root> ...]

Prints one `<count>  <root>` line per root and, for several roots, a
`<sum>  total` line, so code moved from one root to another shows as a
move. A line that is only a `//` comment, or inside or on a `/* ... */`
block (scaladoc included), does not count; code after a block's `*/`
does.
"""
import os
import sys


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding='utf-8') as f:
        for line in f:
            s = line.strip()
            if not s:
                continue
            if not in_block and s.startswith('/*'):
                in_block = True
            if in_block:
                if '*/' in s:
                    in_block = False
                    if s.split('*/', 1)[1].strip():
                        n += 1
                continue
            if not s.startswith('//'):
                n += 1
    return n


def count(root):
    return sum(count_file(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs if f.endswith('.scala'))


def main(roots):
    if not roots:
        sys.exit(__doc__.strip())
    counts = [count(r) for r in roots]
    for r, n in zip(roots, counts):
        print(f'{n}  {r}')
    if len(roots) > 1:
        print(f'{sum(counts)}  total')


if __name__ == '__main__':
    main(sys.argv[1:])
