from perfbench import harness

SMAPS = """\
00400000-00401000 r-xp 00000000 08:02 173521 /usr/bin/java
Size:                  4 kB
Pss:                   4 kB
VmFlags: rd ex mr mw me dw
600000000-610000000 rw-p 00000000 00:00 0
Size:             262144 kB
Pss:              200000 kB
VmFlags: rd wr mr mw me ac
610000000-800000000 ---p 00000000 00:00 0
Size:            8126464 kB
Pss:                   0 kB
7f0000000000-7f0000100000 rw-p 00000000 00:00 0
Size:               1024 kB
Pss:                 512 kB
""".splitlines(keepends=True)


def test_pss_outside_leaves_out_the_heap_mappings():
    heap = (0x600000000, 0x600000000 + 8192 * 2**20)
    assert harness.pss_outside(SMAPS, heap) == (4 + 512) * 1024
    assert harness.pss_outside(SMAPS, (0, 0)) == (4 + 200000 + 512) * 1024


def test_heap_range_reads_the_coops_log_line(tmp_path):
    log = tmp_path / "jvm-heap.log"
    assert harness.heap_range(str(log)) is None  # not written yet
    log.write_text("[0.005s][debug][gc,heap,coops] Heap address: 0x0000000600000000, "
                   "size: 8192 MB, Compressed Oops mode: Zero based, Oop shift amount: 3\n")
    assert harness.heap_range(str(log)) == (0x600000000, 0x800000000)
