import sys, os, re
# non-blank, non-comment lines of every .scala under a dir
def count(root):
    n = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if not f.endswith('.scala'): continue
            inblock = False
            for line in open(os.path.join(d, f), encoding='utf-8'):
                s = line.strip()
                if not s: continue
                if inblock:
                    if '*/' in s:
                        inblock = False
                        rest = s.split('*/', 1)[1].strip()
                        if rest: n += 1
                    continue
                if s.startswith('//'): continue
                if s.startswith('/*'):
                    if '*/' not in s: inblock = True
                    else:
                        rest = s.split('*/', 1)[1].strip()
                        if rest: n += 1
                    continue
                n += 1
    return n
print(count(sys.argv[1]))
