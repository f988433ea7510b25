/* 001 */ public Object generate(Object[] references) {
/* 002 */   return new GeneratedIteratorForCodegenStage1(references);
/* 003 */ }
/* 004 */
/* 005 */ // codegenStageId=1
/* 006 */ final class GeneratedIteratorForCodegenStage1 extends org.apache.spark.sql.execution.BufferedRowIterator {
/* 007 */   private Object[] references;
/* 008 */   private scala.collection.Iterator[] inputs;
/* 009 */   private int columnartorow_batchIdx_0;
/* 010 */   private org.apache.spark.sql.vectorized.ColumnarBatch[] columnartorow_mutableStateArray_1 = new org.apache.spark.sql.vectorized.ColumnarBatch[1];
/* 011 */   private org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[] columnartorow_mutableStateArray_2 = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector[4];
/* 012 */   private scala.collection.Iterator[] columnartorow_mutableStateArray_0 = new scala.collection.Iterator[1];
/* 013 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[] columnartorow_mutableStateArray_3 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[6];
/* 014 */
/* 015 */   public GeneratedIteratorForCodegenStage1(Object[] references) {
/* 016 */     this.references = references;
/* 017 */   }
/* 018 */
/* 019 */   public void init(int index, scala.collection.Iterator[] inputs) {
/* 020 */     partitionIndex = index;
/* 021 */     this.inputs = inputs;
/* 022 */     columnartorow_mutableStateArray_0[0] = inputs[0];
/* 023 */
/* 024 */     columnartorow_mutableStateArray_3[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(4, 64);
/* 025 */     columnartorow_mutableStateArray_3[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(4, 64);
/* 026 */     columnartorow_mutableStateArray_3[2] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 96);
/* 027 */     columnartorow_mutableStateArray_3[3] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(columnartorow_mutableStateArray_3[2], 5);
/* 028 */     columnartorow_mutableStateArray_3[4] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(columnartorow_mutableStateArray_3[2], 5);
/* 029 */     columnartorow_mutableStateArray_3[5] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(columnartorow_mutableStateArray_3[2], 5);
/* 030 */
/* 031 */   }
/* 032 */
/* 033 */   protected void processNext() throws java.io.IOException {
/* 034 */     if (columnartorow_mutableStateArray_1[0] == null) {
/* 035 */       columnartorow_nextBatch_0();
/* 036 */     }
/* 037 */     while ( columnartorow_mutableStateArray_1[0] != null) {
/* 038 */       int columnartorow_numRows_0 = columnartorow_mutableStateArray_1[0].numRows();
/* 039 */       int columnartorow_localEnd_0 = columnartorow_numRows_0 - columnartorow_batchIdx_0;
/* 040 */       for (int columnartorow_localIdx_0 = 0; columnartorow_localIdx_0 < columnartorow_localEnd_0; columnartorow_localIdx_0++) {
/* 041 */         int columnartorow_rowIdx_0 = columnartorow_batchIdx_0 + columnartorow_localIdx_0;
/* 042 */         do {
/* 043 */           boolean columnartorow_isNull_0 = columnartorow_mutableStateArray_2[0].isNullAt(columnartorow_rowIdx_0);
/* 044 */           long columnartorow_value_0 = columnartorow_isNull_0 ? -1L : (columnartorow_mutableStateArray_2[0].getLong(columnartorow_rowIdx_0));
/* 045 */
/* 046 */           boolean filter_value_0 = (columnartorow_isNull_0 && false) ||
/* 047 */           (!columnartorow_isNull_0 && !false && columnartorow_value_0 == 8L);
/* 048 */           if (!filter_value_0) continue;
/* 049 */
/* 050 */           boolean columnartorow_isNull_3 = columnartorow_mutableStateArray_2[3].isNullAt(columnartorow_rowIdx_0);
/* 051 */           UTF8String columnartorow_value_3 = columnartorow_isNull_3 ? null : (columnartorow_mutableStateArray_2[3].getUTF8String(columnartorow_rowIdx_0));
/* 052 */
/* 053 */           boolean filter_value_5 = !columnartorow_isNull_3;
/* 054 */           if (!filter_value_5) continue;
/* 055 */
/* 056 */           boolean columnartorow_isNull_2 = columnartorow_mutableStateArray_2[2].isNullAt(columnartorow_rowIdx_0);
/* 057 */           double columnartorow_value_2 = columnartorow_isNull_2 ? -1.0 : (columnartorow_mutableStateArray_2[2].getDouble(columnartorow_rowIdx_0));
/* 058 */
/* 059 */           boolean filter_value_8 = !columnartorow_isNull_2;
/* 060 */           if (!filter_value_8) continue;
/* 061 */
/* 062 */           boolean columnartorow_isNull_1 = columnartorow_mutableStateArray_2[1].isNullAt(columnartorow_rowIdx_0);
/* 063 */           UTF8String columnartorow_value_1 = columnartorow_isNull_1 ? null : (columnartorow_mutableStateArray_2[1].getUTF8String(columnartorow_rowIdx_0));
/* 064 */
/* 065 */           boolean filter_value_11 = !columnartorow_isNull_1;
/* 066 */           if (!filter_value_11) continue;
/* 067 */
/* 068 */           ((org.apache.spark.sql.execution.metric.SQLMetric) references[2] /* numOutputRows */).add(1);
/* 069 */
/* 070 */           // common sub-expressions
/* 071 */
/* 072 */           Object[] project_values_0 = new Object[5];
/* 073 */
/* 074 */           if (false) {
/* 075 */             project_values_0[0] = null;
/* 076 */           } else {
/* 077 */             project_values_0[0] = ((byte)2);
/* 078 */           }
/* 079 */
/* 080 */           if (false) {
/* 081 */             project_values_0[1] = null;
/* 082 */           } else {
/* 083 */             project_values_0[1] = columnartorow_value_1;
/* 084 */           }
/* 085 */
/* 086 */           if (true) {
/* 087 */             project_values_0[2] = null;
/* 088 */           } else {
/* 089 */             project_values_0[2] = ((UTF8String)null);
/* 090 */           }
/* 091 */
/* 092 */           if (true) {
/* 093 */             project_values_0[3] = null;
/* 094 */           } else {
/* 095 */             project_values_0[3] = ((UTF8String)null);
/* 096 */           }
/* 097 */
/* 098 */           if (true) {
/* 099 */             project_values_0[4] = null;
/* 100 */           } else {
/* 101 */             project_values_0[4] = -1.0;
/* 102 */           }
/* 103 */
/* 104 */           final InternalRow project_value_0 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project_values_0);
/* 105 */           project_values_0 = null;
/* 106 */           Object[] project_values_1 = new Object[5];
/* 107 */
/* 108 */           if (false) {
/* 109 */             project_values_1[0] = null;
/* 110 */           } else {
/* 111 */             project_values_1[0] = ((byte)2);
/* 112 */           }
/* 113 */
/* 114 */           boolean project_isNull_8 = false;
/* 115 */           UTF8String project_value_8 = null;
/* 116 */           if (!false) {
/* 117 */             UTF8String project_tmp_0;
/* 118 */             project_tmp_0 = UTF8String.fromString(String.valueOf(columnartorow_value_2));
/* 119 */             project_value_8 = project_tmp_0;
/* 120 */           }
/* 121 */           if (project_isNull_8) {
/* 122 */             project_values_1[1] = null;
/* 123 */           } else {
/* 124 */             project_values_1[1] = project_value_8;
/* 125 */           }
/* 126 */
/* 127 */           if (false) {
/* 128 */             project_values_1[2] = null;
/* 129 */           } else {
/* 130 */             project_values_1[2] = ((UTF8String) references[3] /* literal */);
/* 131 */           }
/* 132 */
/* 133 */           if (true) {
/* 134 */             project_values_1[3] = null;
/* 135 */           } else {
/* 136 */             project_values_1[3] = ((UTF8String)null);
/* 137 */           }
/* 138 */
/* 139 */           if (false) {
/* 140 */             project_values_1[4] = null;
/* 141 */           } else {
/* 142 */             project_values_1[4] = columnartorow_value_2;
/* 143 */           }
/* 144 */
/* 145 */           final InternalRow project_value_6 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project_values_1);
/* 146 */           project_values_1 = null;
/* 147 */           Object[] project_values_2 = new Object[5];
/* 148 */
/* 149 */           if (false) {
/* 150 */             project_values_2[0] = null;
/* 151 */           } else {
/* 152 */             project_values_2[0] = ((byte)2);
/* 153 */           }
/* 154 */
/* 155 */           if (false) {
/* 156 */             project_values_2[1] = null;
/* 157 */           } else {
/* 158 */             project_values_2[1] = columnartorow_value_3;
/* 159 */           }
/* 160 */
/* 161 */           if (true) {
/* 162 */             project_values_2[2] = null;
/* 163 */           } else {
/* 164 */             project_values_2[2] = ((UTF8String)null);
/* 165 */           }
/* 166 */
/* 167 */           if (true) {
/* 168 */             project_values_2[3] = null;
/* 169 */           } else {
/* 170 */             project_values_2[3] = ((UTF8String)null);
/* 171 */           }
/* 172 */
/* 173 */           if (true) {
/* 174 */             project_values_2[4] = null;
/* 175 */           } else {
/* 176 */             project_values_2[4] = -1.0;
/* 177 */           }
/* 178 */
/* 179 */           final InternalRow project_value_13 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(project_values_2);
/* 180 */           project_values_2 = null;
/* 181 */           columnartorow_mutableStateArray_3[2].reset();
/* 182 */
/* 183 */           final InternalRow project_tmpInput_0 = project_value_0;
/* 184 */           if (project_tmpInput_0 instanceof UnsafeRow) {
/* 185 */             columnartorow_mutableStateArray_3[2].write(0, (UnsafeRow) project_tmpInput_0);
/* 186 */           } else {
/* 187 */             // Remember the current cursor so that we can calculate how many bytes are
/* 188 */             // written later.
/* 189 */             final int project_previousCursor_0 = columnartorow_mutableStateArray_3[2].cursor();
/* 190 */
/* 191 */             columnartorow_mutableStateArray_3[3].resetRowWriter();
/* 192 */
/* 193 */             columnartorow_mutableStateArray_3[3].write(0, (project_tmpInput_0.getByte(0)));
/* 194 */
/* 195 */             if ((project_tmpInput_0.isNullAt(1))) {
/* 196 */               columnartorow_mutableStateArray_3[3].setNullAt(1);
/* 197 */             } else {
/* 198 */               columnartorow_mutableStateArray_3[3].write(1, (project_tmpInput_0.getUTF8String(1)));
/* 199 */             }
/* 200 */
/* 201 */             if ((project_tmpInput_0.isNullAt(2))) {
/* 202 */               columnartorow_mutableStateArray_3[3].setNullAt(2);
/* 203 */             } else {
/* 204 */               columnartorow_mutableStateArray_3[3].write(2, (project_tmpInput_0.getUTF8String(2)));
/* 205 */             }
/* 206 */
/* 207 */             if ((project_tmpInput_0.isNullAt(3))) {
/* 208 */               columnartorow_mutableStateArray_3[3].setNullAt(3);
/* 209 */             } else {
/* 210 */               columnartorow_mutableStateArray_3[3].write(3, (project_tmpInput_0.getUTF8String(3)));
/* 211 */             }
/* 212 */
/* 213 */             if ((project_tmpInput_0.isNullAt(4))) {
/* 214 */               columnartorow_mutableStateArray_3[3].setNullAt(4);
/* 215 */             } else {
/* 216 */               columnartorow_mutableStateArray_3[3].write(4, (project_tmpInput_0.getDouble(4)));
/* 217 */             }
/* 218 */
/* 219 */             columnartorow_mutableStateArray_3[2].setOffsetAndSizeFromPreviousCursor(0, project_previousCursor_0);
/* 220 */           }
/* 221 */
/* 222 */           final InternalRow project_tmpInput_1 = project_value_6;
/* 223 */           if (project_tmpInput_1 instanceof UnsafeRow) {
/* 224 */             columnartorow_mutableStateArray_3[2].write(1, (UnsafeRow) project_tmpInput_1);
/* 225 */           } else {
/* 226 */             // Remember the current cursor so that we can calculate how many bytes are
/* 227 */             // written later.
/* 228 */             final int project_previousCursor_1 = columnartorow_mutableStateArray_3[2].cursor();
/* 229 */
/* 230 */             columnartorow_mutableStateArray_3[4].resetRowWriter();
/* 231 */
/* 232 */             columnartorow_mutableStateArray_3[4].write(0, (project_tmpInput_1.getByte(0)));
/* 233 */
/* 234 */             if ((project_tmpInput_1.isNullAt(1))) {
/* 235 */               columnartorow_mutableStateArray_3[4].setNullAt(1);
/* 236 */             } else {
/* 237 */               columnartorow_mutableStateArray_3[4].write(1, (project_tmpInput_1.getUTF8String(1)));
/* 238 */             }
/* 239 */
/* 240 */             columnartorow_mutableStateArray_3[4].write(2, (project_tmpInput_1.getUTF8String(2)));
/* 241 */
/* 242 */             if ((project_tmpInput_1.isNullAt(3))) {
/* 243 */               columnartorow_mutableStateArray_3[4].setNullAt(3);
/* 244 */             } else {
/* 245 */               columnartorow_mutableStateArray_3[4].write(3, (project_tmpInput_1.getUTF8String(3)));
/* 246 */             }
/* 247 */
/* 248 */             if ((project_tmpInput_1.isNullAt(4))) {
/* 249 */               columnartorow_mutableStateArray_3[4].setNullAt(4);
/* 250 */             } else {
/* 251 */               columnartorow_mutableStateArray_3[4].write(4, (project_tmpInput_1.getDouble(4)));
/* 252 */             }
/* 253 */
/* 254 */             columnartorow_mutableStateArray_3[2].setOffsetAndSizeFromPreviousCursor(1, project_previousCursor_1);
/* 255 */           }
/* 256 */
/* 257 */           final InternalRow project_tmpInput_2 = project_value_13;
/* 258 */           if (project_tmpInput_2 instanceof UnsafeRow) {
/* 259 */             columnartorow_mutableStateArray_3[2].write(2, (UnsafeRow) project_tmpInput_2);
/* 260 */           } else {
/* 261 */             // Remember the current cursor so that we can calculate how many bytes are
/* 262 */             // written later.
/* 263 */             final int project_previousCursor_2 = columnartorow_mutableStateArray_3[2].cursor();
/* 264 */
/* 265 */             columnartorow_mutableStateArray_3[5].resetRowWriter();
/* 266 */
/* 267 */             columnartorow_mutableStateArray_3[5].write(0, (project_tmpInput_2.getByte(0)));
/* 268 */
/* 269 */             if ((project_tmpInput_2.isNullAt(1))) {
/* 270 */               columnartorow_mutableStateArray_3[5].setNullAt(1);
/* 271 */             } else {
/* 272 */               columnartorow_mutableStateArray_3[5].write(1, (project_tmpInput_2.getUTF8String(1)));
/* 273 */             }
/* 274 */
/* 275 */             if ((project_tmpInput_2.isNullAt(2))) {
/* 276 */               columnartorow_mutableStateArray_3[5].setNullAt(2);
/* 277 */             } else {
/* 278 */               columnartorow_mutableStateArray_3[5].write(2, (project_tmpInput_2.getUTF8String(2)));
/* 279 */             }
/* 280 */
/* 281 */             if ((project_tmpInput_2.isNullAt(3))) {
/* 282 */               columnartorow_mutableStateArray_3[5].setNullAt(3);
/* 283 */             } else {
/* 284 */               columnartorow_mutableStateArray_3[5].write(3, (project_tmpInput_2.getUTF8String(3)));
/* 285 */             }
/* 286 */
/* 287 */             if ((project_tmpInput_2.isNullAt(4))) {
/* 288 */               columnartorow_mutableStateArray_3[5].setNullAt(4);
/* 289 */             } else {
/* 290 */               columnartorow_mutableStateArray_3[5].write(4, (project_tmpInput_2.getDouble(4)));
/* 291 */             }
/* 292 */
/* 293 */             columnartorow_mutableStateArray_3[2].setOffsetAndSizeFromPreviousCursor(2, project_previousCursor_2);
/* 294 */           }
/* 295 */           append((columnartorow_mutableStateArray_3[2].getRow()));
/* 296 */
/* 297 */         } while (false);
/* 298 */         if (shouldStop()) { columnartorow_batchIdx_0 = columnartorow_rowIdx_0 + 1; return; }
/* 299 */       }
/* 300 */       columnartorow_batchIdx_0 = columnartorow_numRows_0;
/* 301 */       columnartorow_mutableStateArray_1[0].closeIfFreeable();
/* 302 */       columnartorow_mutableStateArray_1[0] = null;
/* 303 */       columnartorow_nextBatch_0();
/* 304 */     }
/* 305 */     // clean up resources
/* 306 */     if (columnartorow_mutableStateArray_1[0] != null) {
/* 307 */       columnartorow_mutableStateArray_1[0].close();
/* 308 */     }
/* 309 */   }
/* 310 */
/* 311 */   private void columnartorow_nextBatch_0() throws java.io.IOException {
/* 312 */     if (columnartorow_mutableStateArray_0[0].hasNext()) {
/* 313 */       columnartorow_mutableStateArray_1[0] = (org.apache.spark.sql.vectorized.ColumnarBatch)columnartorow_mutableStateArray_0[0].next();
/* 314 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[1] /* numInputBatches */).add(1);
/* 315 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[0] /* numOutputRows */).add(columnartorow_mutableStateArray_1[0].numRows());
/* 316 */       columnartorow_batchIdx_0 = 0;
/* 317 */       columnartorow_mutableStateArray_2[0] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(0);
/* 318 */       columnartorow_mutableStateArray_2[1] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(1);
/* 319 */       columnartorow_mutableStateArray_2[2] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(2);
/* 320 */       columnartorow_mutableStateArray_2[3] = (org.apache.spark.sql.execution.vectorized.OnHeapColumnVector) columnartorow_mutableStateArray_1[0].column(3);
/* 321 */
/* 322 */     }
/* 323 */   }
/* 324 */ }
