"""Count the non-blank, non-comment lines of the Scala sources under a
directory: `python3 tools/sloc.py src/main/scala` prints one number.

Strips // line comments and /* */ block comments (scaladoc included),
ignoring comment markers inside "..." and triple-quoted string literals,
so a change that only rewraps or deletes comments counts as no change."""
import os
import sys


def code_lines(text):
    """Non-blank lines of `text` once its comments are removed."""
    lines, cur = [], []
    state = None  # None | "block" | "str" | "tstr"
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n" and state != "block":
            lines.append("".join(cur))
            cur = []
            if state == "str":  # an unterminated "..." ends at the line
                state = None
            i += 1
        elif state == "block":
            if text.startswith("*/", i):
                state, i = None, i + 2
            else:
                if c == "\n":
                    lines.append("".join(cur))
                    cur = []
                i += 1
        elif state == "tstr":
            if text.startswith('"""', i):
                state = None
                cur.append('"""')
                i += 3
            else:
                cur.append(c)
                i += 1
        elif state == "str":
            if c == "\\":
                cur.append(text[i:i + 2])
                i += 2
                continue
            if c == '"':
                state = None
            cur.append(c)
            i += 1
        elif text.startswith('"""', i):
            state = "tstr"
            cur.append('"""')
            i += 3
        elif c == '"':
            state = "str"
            cur.append(c)
            i += 1
        elif c == "'" and i + 2 < n and text[i + 2] == "'":  # char literal
            cur.append(text[i:i + 3])
            i += 3
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            state, i = "block", i + 2
        else:
            cur.append(c)
            i += 1
    lines.append("".join(cur))
    return sum(1 for line in lines if line.strip())


def main(root):
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    print(total)


if __name__ == "__main__":
    main(sys.argv[1])
